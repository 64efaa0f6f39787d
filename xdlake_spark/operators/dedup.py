"""Deduplication operators for LLM-training-data pipelines.

Five families, each scale-designed (mandated by the build brief; the
reference has no dedup — these extend its surface):

- exact:      hash-groupBy on a canonical fingerprint; one shuffle.
- minhash:    shingle -> K minhashes -> B bands -> bucket self-join; only
              same-bucket pairs are compared, so candidate generation is
              ~linear in corpus size instead of O(n^2).
- simhash:    64-bit token-vote fingerprint (hashes computed JVM-side,
              bit-vote in an Arrow-batched pandas UDF), banded for
              near-neighbor candidate lookup, hamming<=k verification via
              built-in bit_count(xor).
- ngram jaccard: exact similarity join via explode-on-shingle — the
              inverted-index join: pairs sharing no shingle are never
              materialized.
- embedding:  cosine near-dup via random-hyperplane LSH buckets, exact
              cosine verification on candidates only.

All shuffles key on content hashes (uniformly distributed — no skew);
band/bucket joins co-partition both sides on the bucket key.
"""

from __future__ import annotations

import functools
import operator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import (_parse_bytes, arrow_gate, ensure_parallelism,
               plan_max_rows, plan_row_estimate)
from ..functions.text import fingerprint_md5, shingles
from ..functions.vectors import cosine, hyperplane_signature, lit_longs


def _bounded_bucket_pairs(entries: DataFrame, keys: list[str],
                          payload: list[str] | None = None,
                          bucket_cap: int = 2000,
                          distinct: bool = True,
                          max_members: int | None = None) -> DataFrame:
    """All unordered same-bucket id pairs, with per-task pair work
    bounded by ~``bucket_cap``^2 regardless of bucket size.

    ``distinct=False`` keeps one output row per (bucket, pair) — every
    pair is emitted exactly once per bucket it co-occurs in (never
    duplicated by the tiling), which lets inverted-index callers
    aggregate co-occurrence counts instead of deduping.

    ``entries`` has one row per (id, bucket); ``keys`` name the bucket
    columns. A bucket of n members yields n*(n-1)/2 pairs; in a naive
    self-join one hot bucket (k near-identical docs — the COMMON case
    on a web corpus: boilerplate pages, templated spam) does all O(k^2)
    work inside a single shuffle task. Here every bucket is split into
    s = ceil(n / bucket_cap) salt groups by id hash and the pair grid
    is tiled into s*(s+1)/2 block tasks, each comparing ~bucket_cap x
    bucket_cap rows — identical output (every cross-salt pair lands in
    exactly one block; diagonal blocks order by id), total work
    unchanged, stragglers gone. Shuffle volume is n*(s+1) rows per
    bucket — the replication cost of tiling.

    ``max_members``: a hard upper bound on any bucket's member count
    that the caller knows without a job — its input's ``maxRows``
    (:func:`plan_max_rows`) when each input row yields at most one
    entry per bucket. At ``max_members <= bucket_cap`` every bucket is
    one block (s = 1), so the grid IS the plain self-join on the keys
    with ``l.id < r.id``; it runs without the bucket-count aggregation,
    the count join and the salt explodes. None (no bound) tiles.

    Returns (id_a, id_b[, {p}_a, {p}_b ...]) with id_a < id_b, deduped
    across buckets.
    """
    payload = payload or []
    if max_members is not None and max_members <= bucket_cap:
        left = right = entries.select(*keys, "id", *payload)
        blocks, ids = [], F.col("l.id") < F.col("r.id")
    else:
        # entries feeds three consumers (bucket counts + both join
        # sides); callers checkpoint the expensive upstream
        # (signatures/shingles) themselves, so no extra materialization
        cnt = entries.groupBy(*keys).agg(F.count(F.lit(1)).alias("__n"))
        e = (entries.join(cnt, keys)
             .withColumn("__ns", F.ceil(F.col("__n") / F.lit(bucket_cap))
                         .cast("int"))
             .withColumn("__salt",
                         F.pmod(F.xxhash64("id"), F.col("__ns")).cast("int"))
             .drop("__n"))
        # left side owns block rows (salt, sb) for sb >= salt; right side
        # (sa, salt) for sa <= salt: a pair with salts (x <= y) meets in
        # exactly one block (x, y)
        left = e.select(
            *keys, "id", *payload, F.col("__salt").alias("__sa"),
            F.explode(F.sequence(F.col("__salt"), F.col("__ns") - 1))
            .alias("__sb"))
        right = e.select(
            *keys, "id", *payload, F.col("__salt").alias("__sb"),
            F.explode(F.sequence(F.lit(0), F.col("__salt"))).alias("__sa"))
        blocks = ["__sa", "__sb"]
        # diagonal blocks see both orientations -> order there;
        # off-diagonal blocks see each pair once in a fixed
        # (salt-determined) orientation -> must not drop on id order
        ids = F.when(F.col("l.__sa") == F.col("l.__sb"),
                     F.col("l.id") < F.col("r.id")) \
            .otherwise(F.col("l.id") != F.col("r.id"))

    # NOTE (r12): deliberately NOT repartition-pinned. At sf0.1 AQE
    # byte-coalesces this join's quadratic pair emit onto one ~1 s
    # task, but pinning both sides at session parallelism measured
    # 2x SLOWER overall (the extra exchanges cost more than the
    # coalesced emit), and at real scale the shuffle is large enough
    # that AQE keeps the parallelism.
    l, r = left.alias("l"), right.alias("r")
    same = [F.col(f"l.{k}") == F.col(f"r.{k}") for k in [*keys, *blocks]]
    cond = functools.reduce(operator.and_, same) & ids

    lo = F.col("l.id") < F.col("r.id")
    cols = [F.least(F.col("l.id"), F.col("r.id")).alias("id_a"),
            F.greatest(F.col("l.id"), F.col("r.id")).alias("id_b")]
    for p in payload:
        cols.append(F.when(lo, F.col(f"l.{p}"))
                    .otherwise(F.col(f"r.{p}")).alias(f"{p}_a"))
        cols.append(F.when(lo, F.col(f"r.{p}"))
                    .otherwise(F.col(f"l.{p}")).alias(f"{p}_b"))
    out = l.join(r, cond).select(cols)
    return out.dropDuplicates(["id_a", "id_b"]) if distinct else out


def _bounded_bipartite_pairs(a: DataFrame, b: DataFrame,
                             keys: list[str],
                             bucket_cap: int = 2000) -> DataFrame:
    """All cross-side (a_id, b_id) same-bucket pairs — the bipartite
    analog of :func:`_bounded_bucket_pairs`, with per-task pair work
    bounded by ~``bucket_cap``^2 regardless of bucket size.

    ``a`` has one row per (a_id, bucket), ``b`` one per (b_id, bucket).
    Both sides' bucket sizes come from ONE aggregation over a
    side-tagged union — (key, 1, 0) rows from ``a`` and (key, 0, 1) rows
    from ``b``, summed per key — and buckets present on one side only
    are pruned there, before any fan-out; each side then joins the
    counts once. Each side is salted into ``ceil(n_side / cap)`` groups
    by id hash and the full grid of (salt_a, salt_b) blocks is
    enumerated — an A row replicates to every B salt and vice versa, so
    a pair meets in exactly ONE block and a hot bucket (s_a x s_b
    members) spreads its s_a*s_b pair emissions over block tasks of
    ~cap^2 each. Emits one row per (bucket, pair); callers aggregate
    co-occurrence counts.

    When one side is bounded at <= ``bucket_cap`` rows with one row per
    (id, bucket), every bucket has s_a = 1 and the grid is one block
    row: the result is the plain join on the keys, which
    :func:`cross_corpus_jaccard_pairs` runs as a broadcast join instead
    of calling this tiling when that side's index also fits Spark's
    broadcast threshold.
    """
    one, zero = F.lit(1), F.lit(0)
    cnt = (a.select(*keys, one.alias("__na"), zero.alias("__nb"))
           .union(b.select(*keys, zero.alias("__na"), one.alias("__nb")))
           .groupBy(*keys)
           .agg(F.sum("__na").alias("__na"), F.sum("__nb").alias("__nb"))
           .filter((F.col("__na") > 0) & (F.col("__nb") > 0)))
    ea = (a.join(cnt, keys)
          .withColumn("__sa", F.pmod(F.xxhash64("a_id"),
                                     F.ceil(F.col("__na")
                                            / F.lit(bucket_cap)))
          .cast("int"))
          .withColumn("__sb", F.explode(F.sequence(
              F.lit(0), (F.ceil(F.col("__nb") / F.lit(bucket_cap))
                         - 1).cast("int"))))
          .drop("__na", "__nb"))
    eb = (b.join(cnt, keys)
          .withColumn("__sb", F.pmod(F.xxhash64("b_id"),
                                     F.ceil(F.col("__nb")
                                            / F.lit(bucket_cap)))
          .cast("int"))
          .withColumn("__sa", F.explode(F.sequence(
              F.lit(0), (F.ceil(F.col("__na") / F.lit(bucket_cap))
                         - 1).cast("int"))))
          .drop("__na", "__nb"))
    return (ea.join(eb, [*keys, "__sa", "__sb"])
            .select("a_id", "b_id"))


def _doc_freq_valve(invs: list[DataFrame], key: str,
                    max_doc_freq: int) -> list[DataFrame]:
    """Drop ``key`` values whose combined document frequency across the
    given inverted indexes exceeds ``max_doc_freq``; returns the
    filtered (lazily checkpointed) indexes. Shared by the self-join and
    bipartite jaccard joins so the valve semantics cannot diverge."""
    all_keys = invs[0].select(key)
    for inv in invs[1:]:
        all_keys = all_keys.union(inv.select(key))
    keep = (all_keys.groupBy(key)
            .agg(F.count(F.lit(1)).alias("__df"))
            .filter(F.col("__df") <= max_doc_freq)
            .select(key))
    return [inv.join(keep, key).localCheckpoint(eager=False)
            for inv in invs]


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------


def exact_dedup(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Keep the lowest-id row per exact (normalized) duplicate group.

    One shuffle on the md5 fingerprint; deterministic keeper choice makes
    the result oracle-checkable.
    """
    w = Window.partitionBy("__fp").orderBy(F.col(id_col))
    return (df.withColumn("__fp", fingerprint_md5(F.col(text_col)))
            .withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__fp", "__rn"))


def duplicate_groups(df: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """(fingerprint, n_dups, keeper_id) for groups with >1 member."""
    return (df.withColumn("fingerprint", fingerprint_md5(F.col(text_col)))
            .groupBy("fingerprint")
            .agg(F.count(F.lit(1)).alias("n_dups"),
                 F.min(id_col).alias("keeper_id"))
            .filter(F.col("n_dups") > 1))


def _large_star(e: DataFrame) -> DataFrame:
    """One large-star round: every node u connects its LARGER neighbors
    to the minimum of its closed neighborhood. Edges in: any (u, v)
    set; edges out: (v, min(Γ(u) ∪ {u})) for v ∈ Γ(u), v > u."""
    sym = (e.select("u", "v")
           .union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
           .distinct())
    mins = (sym.groupBy("u")
            .agg(F.min("v").alias("__mn"))
            .select("u", F.least("u", "__mn").alias("__m")))
    return (sym.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("__m").alias("v"))
            .distinct())


def _small_star(e: DataFrame) -> DataFrame:
    """One small-star round: every node u connects its SMALLER
    neighbors (and itself) to the minimum among them. Edges are first
    oriented large→small so each undirected edge is counted once."""
    dir_ = (e.select(F.greatest("u", "v").alias("u"),
                     F.least("u", "v").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct())
    mins = dir_.groupBy("u").agg(F.min("v").alias("__m"))
    out = (dir_.join(mins, "u")
           .select(F.col("v").alias("u"), F.col("__m").alias("v"))
           .union(mins.select("u", F.col("__m").alias("v"))))
    return out.filter(F.col("u") != F.col("v")).distinct()


def connected_components(edges: DataFrame, id_a: str = "id_a",
                         id_b: str = "id_b",
                         max_iter: int = 50,
                         driver_threshold: int = 200_000) -> DataFrame:
    """Connected components of the near-duplicate pair graph:
    ``(id, component)`` where component is the minimum id reachable.

    This is the step that turns pairwise near-dup hits into dedup
    groups (keep one doc per component). Algorithm: alternating
    large-star / small-star (Kiveris et al., "Connected Components in
    MapReduce and Beyond") — each round is two groupBy+join passes over
    the edge set, and the edge set provably contracts to a star forest
    (every node pointing at its component minimum) in O(log^2 n)
    rounds on ANY graph shape. Hash-min label propagation, the obvious
    alternative, needs O(diameter) rounds: a chain-shaped near-dup
    graph (doc A ~ B ~ C ~ ... — common for serially-edited boilerplate)
    degrades it to O(n) rounds. ``localCheckpoint`` truncates lineage
    each round.

    Size-gated hybrid: the edge count is known before iterating (one
    count job), and a pair graph at or below ``driver_threshold`` edges
    (a few MB — near-dup graphs are SPARSE relative to the corpus) is
    solved as driver-side union-find in microseconds instead of paying
    ~8 scheduled Spark jobs per contraction round. Beyond the
    threshold — a billion-edge graph from a 100 TB corpus — the
    distributed star contraction runs; set ``driver_threshold=0`` to
    force it.

    Raises ``RuntimeError`` if ``max_iter`` rounds pass without
    reaching the fixpoint — silently returning partial labels would
    let ``dedup_keepers_from_pairs`` keep false "keepers".
    """
    # checkpoint the RAW pair projection once — e, nodes, and the
    # driver collect all derive from it, so the (possibly expensive)
    # upstream pair pipeline is evaluated exactly once. LAZY: the first
    # consumer (_stats on e) materializes it through the normal AQE
    # path; eager=True goes through the non-adaptive df.rdd
    # materialization, which measured ~8 s of pure overhead on the
    # sf0.1 pair pipeline (7.4 s eager vs 0.4 s lazy+count)
    raw = (edges.select(F.col(id_a).alias("u"), F.col(id_b).alias("v"))
           .localCheckpoint(eager=False))
    # lazy checkpoints: e is materialized by the first _stats job, nodes
    # by whichever action reads it first — no standalone warmup jobs
    e = (raw.filter(F.col("u") != F.col("v"))
         .distinct()
         .localCheckpoint(eager=False))
    # nodes from the UNfiltered input: a node seen only in self-loop
    # pairs still labels itself
    nodes = (raw.select("u").union(raw.select(F.col("v").alias("u")))
             .distinct()
             .select(F.col("u").alias("id"))
             .localCheckpoint(eager=False))

    def _stats(d: DataFrame) -> tuple:
        """(row count, order-insensitive sum/xor checksums) in ONE job —
        this action also materializes d's lazy localCheckpoint."""
        # sum over a 20-bit fold stays ANSI-safe (no long overflow) up
        # to 2^43 edges; the xor term keeps full 64-bit discrimination
        r = d.agg(F.count(F.lit(1)).alias("n"),
                  F.sum(F.pmod(F.xxhash64("u", "v"),
                               F.lit(1 << 20))).alias("s"),
                  F.expr("bit_xor(xxhash64(u, v))").alias("x")).collect()[0]
        return r["n"], r["s"], r["x"]

    n_edges, *chk = _stats(e)
    if 0 < n_edges <= driver_threshold:
        return _driver_union_find(e, nodes)
    converged = n_edges == 0
    for _ in range(max_iter):
        if converged:
            break
        e2 = _small_star(_large_star(e)).localCheckpoint(eager=False)
        n2, *chk2 = _stats(e2)
        # cheap screen first: identical (count, sum, xor) of row hashes
        # is necessary for set equality, so rounds that still contract
        # pay exactly one job; the exact exceptAll confirmation runs
        # only on checksum-stable rounds (≈ once, at the fixpoint)
        if n2 == n_edges and chk2 == chk \
                and e2.exceptAll(e).isEmpty():
            converged = True
        e, n_edges, chk = e2, n2, chk2
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge within {max_iter} "
            "rounds — raise max_iter (the star-contraction needs "
            "O(log^2 n) rounds; this graph exceeded that budget)")

    # fixpoint is a star forest: every edge is (child, root). Roots and
    # isolated nodes label themselves.
    labels = (e.select(F.col("u").alias("id"), F.col("v").alias("component"))
              .groupBy("id").agg(F.min("component").alias("component")))
    roots = (nodes.join(labels, "id", "left_anti")
             .select("id", F.col("id").alias("component")))
    return labels.union(roots)


def contamination_pairs(train: DataFrame, eval_df: DataFrame,
                        text_col: str = "text", id_col: str = "doc_id",
                        k_shingle: int = 3, threshold: float = 0.8,
                        max_doc_freq: int | None = None,
                        eval_screen: bool = False,
                        screen_bits: int = 1 << 15,
                        screen_hashes: int = 3) -> DataFrame:
    """Benchmark-contamination check: (train_id, eval_id, containment)
    for every train document whose shingle set covers >= ``threshold``
    of an eval document's shingles (containment = |A∩B| / |B|, B = the
    eval doc — the decontamination metric: a short benchmark item fully
    embedded in a long train doc scores 1.0 where jaccard would
    vanish).

    Bipartite inverted-index join on 64-bit hashed shingles — only
    (train, eval) pairs sharing a shingle materialize. ``max_doc_freq``
    (skew valve) drops shingles whose TRAIN document frequency exceeds
    it from the train index, the eval index, AND the containment
    denominator — containment stays a true ratio over the surviving
    shingle set. (Dropping them from the index alone would undercount
    n_inter against a full-size denominator: an eval item built from
    common shingles could then score below threshold — false negatives
    in decontamination.) Eval shingles absent from train entirely still
    count in the denominator: the valve removes only train-hot
    shingles, not unseen ones.

    ``eval_screen`` (r10, the 100 TB lever): the eval set is BENCHMARK
    -sized, so its shingle universe fits a Bloom filter. With the
    screen on, the filter is built over the eval shingles (one small
    job), collected to ``screen_bits/32`` longs, and applied to the
    TRAIN inverted index as a PURE JVM literal-array filter BEFORE the
    shuffle — no join, no extra shuffle, fused into the scan. Train
    shingles that are certainly not in any eval doc (the overwhelming
    majority of a web crawl) never shuffle at all; the join moves
    O(train-shingles-that-might-match) rows instead of every shingle
    of the corpus. Bloom guarantees NO false negatives, so
    screened == unscreened results EXACTLY (pinned in tests); false
    positives only cost shuffle bytes. Size ``screen_bits ~ 14.4x``
    the eval shingle count for ~0.1% FP at ``screen_hashes = 10``;
    very large filters trade whole-stage codegen for an interpreted
    projection (the literal array outgrows the JVM method budget) —
    still shuffle-free.
    """
    def inv(df_, tag):
        sh = (ensure_parallelism(df_)
              .select(F.col(id_col).alias(f"{tag}_id"),
                      shingles(F.col(text_col), k_shingle).alias("sh")))
        return sh

    # the train side is checkpointed ONLY when the doc-freq valve needs
    # tr_inv twice (hot-shingle count + anti-join): with a single
    # consumer, a checkpoint would materialize the corpus-scale train
    # shingle table for no reuse — at 100 TB that is a full extra write
    # of the corpus to executor storage (r12, guide §5)
    tr = inv(train, "train")
    if max_doc_freq is not None:
        tr = tr.localCheckpoint(eager=False)
    ev = inv(eval_df, "eval").localCheckpoint(eager=False)
    # explode_OUTER + isNotNull, not explode (r13, settles the r12
    # contamination_check regression): a plain non-outer Generate
    # makes the optimizer insert a size(sh) > 0 filter and PUSH IT
    # BELOW the projection, so every train doc computed the whole
    # shingles() split/transform/array_distinct expression TWICE —
    # once in the pushed filter, once in the projection (the r11 form
    # only dodged this because its checkpoint was a pushdown barrier).
    # explode_outer inserts no such filter; empty/null shingle arrays
    # surface as one null row dropped right after the Generate. A/B
    # min-of-6, 32 cores, sf0.1: plain 4.35 s / checkpoint 0.98 s /
    # explode_outer 0.97 s — same result rows in all three forms.
    tr_inv = (tr.select("train_id", F.explode_outer("sh").alias("__s"))
              .filter(F.col("__s").isNotNull())
              .select("train_id", F.xxhash64("__s").alias("shingle")))
    ev_inv = (ev.select("eval_id", F.explode("sh").alias("__s"))
              .select("eval_id", F.xxhash64("__s").alias("shingle")))
    if eval_screen:
        # The screen's hash family is private to this function (the
        # filter is built AND probed right here), so it uses
        # xxhash64(i, shingle) addressing — one 64-bit hash of a LONG
        # per probe — instead of sketch.bloom_build's md5-of-string
        # addressing, which cost ~3 md5+hex-conv per train shingle and
        # dominated the screened scan (r12, guide §4.1: cheapest JVM
        # expression that does the job). Any no-false-negative family
        # yields EXACTLY the same query result: a screen false
        # positive only admits a shingle the equi-join then ignores.
        def screen_pos(i):
            return F.pmod(F.xxhash64(F.lit(i), F.col("shingle")),
                          F.lit(screen_bits))

        words = [0] * (screen_bits // 32)
        bit_rows = (ev_inv.select(F.explode(F.array(
                        *[screen_pos(i) for i in range(screen_hashes)]))
                        .alias("__pos"))
                    .select(F.floor(F.col("__pos") / 32).cast("int")
                            .alias("word_i"),
                            # shiftleft() takes only a literal shift in
                            # the Python API; pow(2, b) is exact for
                            # b < 32 and stays JVM-side
                            F.pow(F.lit(2.0),
                                  F.pmod(F.col("__pos"), F.lit(32)))
                            .cast("long").alias("mask"))
                    .groupBy("word_i")
                    .agg(F.expr("bit_or(mask)").alias("bits"))
                    .collect())
        for r in bit_rows:
            words[r["word_i"]] = r["bits"]
        from ..functions.vectors import lit_longs
        wlit = lit_longs(words)
        conds = None
        for i in range(screen_hashes):
            pos = screen_pos(i)
            word = F.floor(pos / 32).cast("int")
            mask = F.pow(F.lit(2.0), F.pmod(pos, F.lit(32))) \
                .cast("long")
            c = (F.element_at(wlit, word + 1).bitwiseAND(mask)
                 == mask)
            conds = c if conds is None else (conds & c)
        tr_inv = tr_inv.filter(conds)
    if max_doc_freq is not None:
        hot = (tr_inv.groupBy("shingle")
               .agg(F.count(F.lit(1)).alias("__df"))
               .filter(F.col("__df") > max_doc_freq)
               .select("shingle"))
        tr_inv = tr_inv.join(hot, "shingle", "left_anti")
        # shingles() is per-doc distinct, so the surviving count IS the
        # per-eval surviving set size
        ev_inv = (ev_inv.join(hot, "shingle", "left_anti")
                  .localCheckpoint(eager=False))
        ev_sizes = (ev_inv.groupBy("eval_id")
                    .agg(F.count(F.lit(1)).alias("n_eval")))
    else:
        ev_sizes = ev.select("eval_id", F.size("sh").alias("n_eval"))

    inter = (tr_inv.join(ev_inv, "shingle")
             .groupBy("train_id", "eval_id")
             .agg(F.count(F.lit(1)).alias("n_inter")))
    return (inter.join(ev_sizes, "eval_id")
            .withColumn("containment",
                        F.col("n_inter").cast("double") / F.col("n_eval"))
            .filter(F.col("containment") >= threshold)
            .select("train_id", "eval_id", "containment"))


def paragraph_dedup(df: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id", sep: str = "\n") -> DataFrame:
    """Corpus-level exact paragraph dedup (the Dolma/CCNet pass):
    every distinct paragraph (trim-keyed) keeps only its FIRST
    occurrence — lowest ``(doc_id, position)`` — across the whole
    corpus; later occurrences are dropped and each document is
    reassembled from its surviving paragraphs in original order.
    Whitespace-only segments are structural and always kept; documents
    whose every paragraph was deduped away come back as empty text.

    Scale: first-occurrence selection is a map-side-combinable
    ``min(struct(doc, pos))`` groupBy on the paragraph key — a
    boilerplate paragraph occurring a million times partial-aggregates
    per partition instead of feeding one hot window; reassembly is one
    groupBy on doc_id.
    """
    # F.split takes a Java regex; quote sep (Pattern.quote semantics) so
    # a separator containing metacharacters ('.', '||', '\n\n') splits
    # literally, matching the docstring and the concat_ws reassembly
    sep_rx = "\\Q" + sep.replace("\\E", "\\E\\\\E\\Q") + "\\E"
    # the input feeds the paragraph explode AND the per-doc sentinel;
    # checkpoint the narrow projection so a derived upstream (e.g. a
    # regex-heavy quality funnel) evaluates ONCE, not once per consumer
    src = (df.select(F.col(id_col).alias("id"),
                     F.col(text_col).alias("__text"))
           .localCheckpoint(eager=False))
    parts = src.select(
        "id",
        F.posexplode(F.split(F.col("__text"), sep_rx)).alias("pos", "par"))
    key = F.trim(F.col("par"))
    content = parts.filter(F.length(key) > 0).withColumn("key", key)
    firsts = (content.groupBy("key")
              .agg(F.min(F.struct("id", "pos")).alias("first")))
    surv = (content.join(firsts, "key")
            .filter((F.col("id") == F.col("first.id"))
                    & (F.col("pos") == F.col("first.pos")))
            .select("id", "pos", "par"))
    # a NULL-paragraph sentinel per doc rides the reassembly groupBy,
    # so a document whose every paragraph deduped away still comes
    # back (as '' — concat_ws skips nulls): no final per-doc left
    # join, one fewer shuffle stage than joining rebuilt text onto
    # the id list
    sentinel = src.select("id", F.lit(-1).alias("pos"),
                          F.lit(None).cast("string").alias("par"))
    keep = (surv.union(parts.filter(F.length(key) == 0)
                       .select("id", "pos", "par"))
            .union(sentinel))
    return (keep.groupBy("id")
            .agg(F.concat_ws(sep, F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "par"))),
                lambda s: s["par"])).alias("__rebuilt"))
            .select(F.col("id").alias(id_col),
                    F.col("__rebuilt").alias(text_col)))


def _driver_union_find(e: DataFrame, nodes: DataFrame) -> DataFrame:
    """Exact same (id, component=min reachable id) labels as the
    distributed path, for edge sets small enough to collect (bounded by
    ``driver_threshold`` rows of two ids)."""
    parent: dict = {}

    def find(x):
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:  # path compression
            parent[x], x = r, parent[x]
        return r

    node_rows = [r["id"] for r in nodes.collect()]
    for x in node_rows:
        parent[x] = x
    for r in e.collect():
        a, b = find(r["u"]), find(r["v"])
        if a != b:
            parent[max(a, b)] = min(a, b)  # root stays the min id
    labels = [(x, find(x)) for x in node_rows]
    dt = nodes.schema["id"].dataType
    schema = T.StructType([T.StructField("id", dt),
                           T.StructField("component", dt)])
    return nodes.sparkSession.createDataFrame(labels, schema)


def dedup_keepers_from_pairs(df: DataFrame, pairs: DataFrame,
                             id_col: str = "doc_id",
                             keep_by: "str | None" = None) -> DataFrame:
    """Rows of ``df`` that survive near-dup removal: one keeper per
    connected component, plus every row that is in no pair at all.

    ``keep_by=None`` keeps the min-id member (cheapest: the component
    label IS the min id, no document data touched). ``keep_by=<col>``
    keeps the HIGHEST-``keep_by`` member (ties to the smallest id) —
    what production pipelines actually want: when a near-dup cluster
    collapses, survive the best-quality copy, not an arbitrary one.

    Scale: either way the anti-join side carries only pair-member ids —
    never documents — so the corpus streams once; the quality variant
    adds one broadcast-sized join of component ids against (id, score)
    and a window over components (pair members only, not the corpus).
    """
    comp = connected_components(pairs)
    if keep_by is None:
        losers = (comp.filter(F.col("id") != F.col("component"))
                  .select(F.col("id").alias(id_col)))
    else:
        scored = comp.join(
            df.select(F.col(id_col).alias("id"),
                      F.col(keep_by).alias("__score")), "id")
        w = Window.partitionBy("component").orderBy(
            F.col("__score").desc(), F.col("id"))
        losers = (scored.withColumn("__rk", F.row_number().over(w))
                  .filter(F.col("__rk") > 1)
                  .select(F.col("id").alias(id_col)))
    return df.join(losers, id_col, "left_anti")


def substring_dup_stats(df: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id", k: int = 12,
                        min_count: int = 2,
                        use_arrow: "bool | None" = None) -> DataFrame:
    """Exact-substring duplication signals per document — the
    train-data-dedup measurement of Lee et al. ("Deduplicating
    Training Data Makes Language Models Better"), at character-gram
    granularity: which fraction of a document consists of substrings
    that also occur elsewhere in the corpus (other documents OR
    repeated within the same one).

    A length-``k`` character gram is *duplicated* when its rolling
    hash occurs >= ``min_count`` times corpus-wide. Reported per doc:

    - ``dup_gram_frac``: duplicated grams / total grams;
    - ``dup_char_frac``: fraction of normalized characters covered by
      at least one duplicated gram — overlapping gram intervals
      [pos, pos+k) are merged with a lag window
      (``least(k, pos - lag(pos))``, first interval counts k), so a
      run of consecutive duplicated grams is not double-counted.

    Plan shape: one position explode of the (single-pass) k-gram hash
    array, a map-side-combinable global count per hash, a semi-join of
    positions against duplicated hashes, and one per-doc window — every
    shuffle keys on a uniform hash or the doc id. This is the scalable
    form of the suffix-array pass: O(total chars) rows, no suffix sort.
    """
    from ..functions.text import kgram_hashes, normalize_text
    from .text import _kgram_arrow_udf

    if use_arrow is None:
        use_arrow = arrow_gate(df)  # plan statistics — no count job
    hashes = (_kgram_arrow_udf(k)(F.col(text_col)) if use_arrow
              else kgram_hashes(F.col(text_col), k))
    base = (ensure_parallelism(df)
            .select(F.col(id_col).alias("doc_id"),
                    F.length(normalize_text(F.col(text_col))).alias("__n"),
                    hashes.alias("__h"))
            .filter(F.col("__n") > 0)
            .localCheckpoint(eager=False))  # gram hashing runs once
    grams = base.select("doc_id", "__n",
                        F.posexplode("__h").alias("pos", "h"))
    dup_hashes = (grams.groupBy("h")
                  .agg(F.count(F.lit(1)).alias("__c"))
                  .filter(F.col("__c") >= min_count)
                  .select("h"))
    dup = grams.join(dup_hashes, "h", "left_semi")

    w = Window.partitionBy("doc_id").orderBy("pos")
    contrib = F.least(F.lit(k).cast("long"),
                      (F.col("pos") - F.lag("pos").over(w)).cast("long"))
    covered = (dup.withColumn("__cov",
                              F.coalesce(contrib, F.lit(k).cast("long")))
               .groupBy("doc_id")
               .agg(F.count(F.lit(1)).alias("n_dup_grams"),
                    F.sum("__cov").alias("__covered")))

    sizes = base.select("doc_id", "__n", F.size("__h").alias("n_grams"))
    return (sizes.join(covered, "doc_id", "left")
            .select(
                "doc_id", "n_grams",
                F.coalesce("n_dup_grams", F.lit(0)).alias("n_dup_grams"),
                F.round(F.coalesce("n_dup_grams", F.lit(0))
                        / F.col("n_grams"), 6).alias("dup_gram_frac"),
                F.round(F.least(F.coalesce("__covered", F.lit(0)),
                                F.col("__n").cast("long"))
                        / F.col("__n"), 6).alias("dup_char_frac")))


def _raw_kgram_arrow_udf(k: int):
    """Rolling hashes of every RAW k-char gram (no normalization —
    exact-substring semantics operate on the text as stored, per Lee
    et al.'s byte-level suffix arrays). Same 31-bit Rabin-Karp math as
    the normalized variant in operators/text.py."""
    from pyspark.sql.functions import pandas_udf

    from ..functions.text import ROLL_BASE, ROLL_MOD

    @pandas_udf("array<long>")
    def _grams(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            s = t or ""
            cps = np.frombuffer(s.encode("utf-32-le"),
                                dtype=np.uint32).astype(np.int64)
            n = len(cps)
            if n < k:
                out.append([])
                continue
            m = n - k + 1
            h = np.zeros(m, dtype=np.int64)
            for j in range(k):  # Horner step across all positions
                h = (h * ROLL_BASE + cps[j:j + m]) % ROLL_MOD
            out.append(h.tolist())
        return pd.Series(out)
    return _grams


def substring_dedup_exact(df: DataFrame, text_col: str = "text",
                          id_col: str = "doc_id",
                          min_length: int = 40,
                          min_count: int = 2) -> DataFrame:
    """EXACT maximal duplicated-substring spans (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better" —
    the suffix-array criterion): every maximal span of the RAW text
    whose every ``min_length``-char window occurs >= ``min_count``
    times corpus-wide (across documents or repeated within one).
    Unlike :func:`substring_dup_stats` (rolling-hash approximate),
    duplication here is decided by STRING EQUALITY — the hash only
    prunes candidates, so a collision can never mark a unique span
    as duplicated, and a hash can never miss a true duplicate
    (identical strings hash identically). Output is exactly the span
    set a sequential suffix automaton derives (differential-tested in
    tests/test_substring_exact.py).

    Returns one row per maximal span:
    ``(doc_id, span_start, span_len)`` — 1-based character offsets
    (SQL substr convention).

    Plan shape (the distributed form of the suffix-array pass, with
    no suffix sort): one single-pass vectorized gram-hash per doc ->
    position explode (O(total chars) rows, 8-byte keys) -> map-side-
    combinable global count per hash -> semi-join survivors ->
    substring materialization for CANDIDATES ONLY (the rare rows; a
    clean corpus materializes almost nothing) -> string-equality
    count -> one per-doc window merging covered positions into
    maximal spans. Every shuffle keys on a uniform hash, the gram
    string, or the doc id; hot grams (a corpus of one repeated char)
    are pure aggregations, never collect_list, so AQE skew handling
    applies.
    """
    hashes = _raw_kgram_arrow_udf(min_length)(F.col(text_col))
    base = (ensure_parallelism(df)
            .select(F.col(id_col).alias("doc_id"),
                    F.col(text_col).alias("__t"),
                    hashes.alias("__h"))
            .filter(F.size("__h") > 0)
            .localCheckpoint(eager=False))  # gram hashing runs once
    pos = base.select("doc_id",
                      F.posexplode("__h").alias("pos0", "h"))
    dup_h = (pos.groupBy("h")
             .agg(F.count(F.lit(1)).alias("__c"))
             .filter(F.col("__c") >= min_count)
             .select("h"))
    cand = pos.join(dup_h, "h", "left_semi")
    # verify by the actual substring — candidates only
    cand_g = (cand.join(base.select("doc_id", "__t"), "doc_id")
              .select("doc_id", (F.col("pos0") + 1).alias("p"),
                      F.substring(F.col("__t"),
                                  (F.col("pos0") + 1).cast("int"),
                                  min_length).alias("g"))
              .localCheckpoint(eager=False))  # two consumers below
    dup_g = (cand_g.groupBy("g")
             .agg(F.count(F.lit(1)).alias("__c"))
             .filter(F.col("__c") >= min_count)
             .select("g"))
    covered = cand_g.join(dup_g, "g", "left_semi").select("doc_id", "p")
    # gaps-and-islands: consecutive covered positions form one span
    w = Window.partitionBy("doc_id").orderBy("p")
    isl = covered.withColumn(
        "__k", F.col("p") - F.row_number().over(w))
    return (isl.groupBy("doc_id", "__k")
            .agg(F.min("p").alias("span_start"),
                 (F.max("p") - F.min("p")
                  + F.lit(min_length)).cast("long").alias("span_len"))
            .select("doc_id",
                    F.col("span_start").cast("long").alias("span_start"),
                    "span_len"))


def remove_exact_duplicated_spans(df: DataFrame,
                                  text_col: str = "text",
                                  id_col: str = "doc_id",
                                  min_length: int = 40,
                                  min_count: int = 2) -> DataFrame:
    """CUT the exactly-duplicated spans from each document — the
    action to :func:`substring_dedup_exact`'s measurement, on RAW
    text with string-equality semantics (the Lee et al. production
    step: remove every span whose windows repeat corpus-wide).

    Output: ``(doc_id, clean_text, n_spans_removed, chars_removed)``
    — every input doc appears (zero-span docs pass through intact).

    Plan: the exact-span pipeline, then the per-doc interval list
    (bytes per doc — spans are already maximal and disjoint) joins
    back to the text and ONE ``aggregate`` higher-order function
    rebuilds the kept string JVM-side; the corpus text itself never
    shuffles twice."""
    spans = substring_dedup_exact(df, text_col, id_col,
                                  min_length, min_count)
    iv = (spans.select(
            "doc_id",
            F.struct((F.col("span_start") - 1).cast("int").alias("s"),
                     (F.col("span_start") - 1 + F.col("span_len"))
                     .cast("int").alias("e")).alias("__sp"))
          .groupBy("doc_id")
          .agg(F.sort_array(F.collect_list("__sp")).alias("__iv"),
               F.count(F.lit(1)).cast("long")
               .alias("n_spans_removed")))
    joined = (df.select(F.col(id_col).alias("doc_id"),
                        F.col(text_col).alias("__t"))
              .join(iv, "doc_id", "left"))
    clean = F.expr("""
        aggregate(__iv,
                  struct(0 AS p, '' AS t),
                  (a, x) -> struct(
                      CAST(least(x.e, length(__t)) AS INT) AS p,
                      concat(a.t, substring(__t, a.p + 1,
                                            x.s - a.p)) AS t),
                  a -> concat(a.t, substring(__t, a.p + 1,
                                             length(__t) - a.p)))
    """)
    return (joined.select(
                "doc_id", "__t",
                F.when(F.col("__iv").isNull(), F.col("__t"))
                 .otherwise(clean).alias("clean_text"),
                F.coalesce("n_spans_removed", F.lit(0).cast("long"))
                 .alias("n_spans_removed"))
            .select("doc_id", "clean_text", "n_spans_removed",
                    (F.length("__t") - F.length("clean_text"))
                    .cast("long").alias("chars_removed")))


def remove_duplicated_spans(df: DataFrame, text_col: str = "text",
                            id_col: str = "doc_id", k: int = 12,
                            min_count: int = 2,
                            use_arrow: "bool | None" = None
                            ) -> DataFrame:
    """REMOVE corpus-duplicated substrings from each document — the
    action to :func:`substring_dup_stats`'s measurement (Lee et al.,
    "Deduplicating Training Data Makes Language Models Better":
    production pipelines cut the repeated spans, not just score them).

    A character of the NORMALIZED text (lowercased, whitespace
    collapsed — cleaning operates on the same canonical form the
    duplication signal is defined on) is removed when any length-``k``
    gram covering it has a corpus-wide rolling-hash count >=
    ``min_count``. Overlapping gram intervals ``[pos, pos+k)`` are
    merged per document before cutting, so each removed span is
    maximal.

    Output: ``(doc_id, clean_text, n_spans_removed, chars_removed)``.

    Plan shape: the same one-explode + global-count + semi-join as
    ``substring_dup_stats``, then a per-doc window assembles merged
    intervals and ONE ``aggregate`` higher-order function rebuilds the
    cleaned string JVM-side from the sorted interval array — no
    Python, no per-char explode; the text itself never shuffles (the
    interval list, ~bytes per doc, joins back to the checkpointed
    base)."""
    from ..functions.text import kgram_hashes, normalize_text
    from .text import _kgram_arrow_udf

    if use_arrow is None:
        use_arrow = arrow_gate(df)
    hashes = (_kgram_arrow_udf(k)(F.col(text_col)) if use_arrow
              else kgram_hashes(F.col(text_col), k))
    base = (ensure_parallelism(df)
            .select(F.col(id_col).alias("doc_id"),
                    normalize_text(F.col(text_col)).alias("__norm"),
                    hashes.alias("__h"))
            .filter(F.length("__norm") > 0)
            .localCheckpoint(eager=False))
    grams = base.select("doc_id",
                        F.posexplode("__h").alias("pos", "h"))
    dup_hashes = (grams.groupBy("h")
                  .agg(F.count(F.lit(1)).alias("__c"))
                  .filter(F.col("__c") >= min_count)
                  .select("h"))
    dup = (grams.join(dup_hashes, "h", "left_semi")
           .select("doc_id", "pos"))

    # merge overlapping/adjacent [pos, pos+k) intervals per document
    w = Window.partitionBy("doc_id").orderBy("pos")
    prev_end = F.max(F.col("pos") + k).over(
        w.rowsBetween(Window.unboundedPreceding, -1))
    grp = (dup.withColumn(
               "__new", F.when(prev_end.isNull()
                               | (F.col("pos") > prev_end), 1)
               .otherwise(0))
           .withColumn("__g", F.sum("__new").over(w)))
    ints = (grp.groupBy("doc_id", "__g")
            .agg(F.min("pos").alias("s"),
                 (F.max("pos") + k).alias("e")))
    iv = (ints.groupBy("doc_id")
          .agg(F.sort_array(F.collect_list(F.struct("s", "e")))
               .alias("__iv"),
               F.count(F.lit(1)).cast("long")
               .alias("n_spans_removed")))

    joined = base.join(iv, "doc_id", "left")
    # fold the sorted, disjoint intervals into (cursor, kept-prefix):
    # each step appends the chars between the cursor and the next
    # span's start, then jumps the cursor past the span
    clean = F.expr("""
        aggregate(__iv,
                  struct(0 AS p, '' AS t),
                  (a, x) -> struct(
                      CAST(least(x.e, length(__norm)) AS INT) AS p,
                      concat(a.t, substring(__norm, a.p + 1,
                                            x.s - a.p)) AS t),
                  a -> concat(a.t, substring(__norm, a.p + 1,
                                             length(__norm) - a.p)))
    """)
    out = joined.select(
        "doc_id", "__norm",
        F.when(F.col("__iv").isNull(), F.col("__norm"))
        .otherwise(clean).alias("clean_text"),
        F.coalesce("n_spans_removed", F.lit(0).cast("long"))
        .alias("n_spans_removed"))
    return out.select(
        "doc_id", "clean_text", "n_spans_removed",
        (F.length("__norm") - F.length("clean_text")).cast("long")
        .alias("chars_removed"))


# ---------------------------------------------------------------------------
# minhash + LSH
# ---------------------------------------------------------------------------


_MERSENNE_31 = (1 << 31) - 1


def _minhash_coeffs(n: int) -> list[tuple[int, int]]:
    """n deterministic (a, b) pairs for the universal family
    ``(a*h + b) mod (2^31 - 1)`` — products of two 31-bit values stay
    inside int64, so the expression is ANSI-safe (no wrapping multiply)."""
    rng = np.random.default_rng(0x5EED_CAFE)
    a = rng.integers(1, _MERSENNE_31, size=n, dtype=np.int64)
    b = rng.integers(0, _MERSENNE_31, size=n, dtype=np.int64)
    return [(int(x), int(y)) for x, y in zip(a, b)]


def minhash_signature_df(df: DataFrame, text_col: str = "text",
                         id_col: str = "doc_id", k_shingle: int = 3,
                         num_hashes: int = 32,
                         use_arrow: "bool | None" = None) -> DataFrame:
    """id + array of ``num_hashes`` minhash values.

    One xxhash64 per shingle folded to 31 bits (always JVM-side — the
    hash must match Spark's), then ``num_hashes`` affine re-hashes
    ``(a_i*h + b_i) mod (2^31-1)`` — the classic universal family —
    folded to their minimum. Two equivalent plans for that fold
    (asserted identical in tests, same pattern as ``simhash_df``):

    - pure JVM: a SINGLE ``aggregate`` + ``zip_with`` pass. (The naive
      form — one ``array_min(transform(...))`` per hash — embeds the
      pipeline ``num_hashes`` times; Catalyst does not CSE inside HOFs:
      measured ~30x slower — the rule in ``functions/text.py``'s module
      docstring.) Still interpreted per shingle*hash. The coefficient
      arrays are ``lit_longs`` literals: one py4j call each.
    - arrow (default past a few thousand docs): the folded 31-bit hash
      array ships to a pandas UDF; the S x num_hashes affine grid and
      column-min run as three numpy ops per document (products stay
      below 2^62, inside int64).

    The input is repartitioned to the session parallelism first: a
    small parquet arrives as one split, and this projection is the
    job's hot loop.
    """
    coeffs = _minhash_coeffs(num_hashes)
    m = F.lit(_MERSENNE_31).cast("long")

    if use_arrow is None:
        use_arrow = arrow_gate(df)  # plan statistics — no count job

    hashed = ensure_parallelism(df).select(
        F.col(id_col).alias("id"),
        shingles(F.col(text_col), k_shingle).alias("__shingles"),
    ).select(
        "id", "__shingles",
        F.transform("__shingles",
                    lambda s: F.pmod(F.xxhash64(s), m)).alias("__h"),
    )

    if use_arrow:
        from pyspark.sql.functions import pandas_udf

        a_np = np.array([a for a, _ in coeffs], dtype=np.int64)
        b_np = np.array([b for _, b in coeffs], dtype=np.int64)
        empty = [_MERSENNE_31] * num_hashes  # == the JVM fold's init

        @pandas_udf("array<long>")
        def _sig(hs: pd.Series) -> pd.Series:
            out = []
            for h in hs:
                if h is None:
                    # null text -> null signature, matching the JVM
                    # aggregate (null array folds to null)
                    out.append(None)
                    continue
                if len(h) == 0:
                    out.append(empty)
                    continue
                hv = np.asarray(h, dtype=np.int64)
                grid = (hv[:, None] * a_np[None, :] + b_np[None, :]) \
                    % _MERSENNE_31
                out.append(grid.min(axis=0).tolist())
            return pd.Series(out)

        return hashed.select("id", "__shingles",
                             _sig(F.col("__h")).alias("signature"))

    a_arr = lit_longs([a for a, _ in coeffs])
    b_arr = lit_longs([b for _, b in coeffs])
    per_shingle = F.transform(
        "__h", lambda h: F.zip_with(a_arr, b_arr,
                                    lambda a, b: F.pmod(h * a + b, m)))
    sig = F.aggregate(
        per_shingle,
        F.array_repeat(m, num_hashes),
        lambda acc, hv: F.zip_with(acc, hv, lambda x, y: F.least(x, y)))
    return hashed.select("id", "__shingles", sig.alias("signature"))


def minhash_lsh_pairs(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id", k_shingle: int = 3,
                      num_hashes: int = 32, bands: int = 8,
                      threshold: float = 0.7,
                      bucket_cap: int = 2000,
                      use_arrow: "bool | None" = None) -> DataFrame:
    """Candidate pairs from banded minhash buckets, verified with exact
    jaccard over distinct shingles. Returns (id_a, id_b, jaccard).

    Scale path: the self-join keys on (band, bucket-hash) — a uniform
    hash key — so candidates are generated per-bucket, never O(n^2);
    ``bucket_cap`` tiles any hot bucket (k near-identical docs — the
    common case on web corpora) into bounded block tasks instead of
    one O(k^2) straggler (see ``_bounded_bucket_pairs``). An input
    bounded at <= ``bucket_cap`` rows (``plan_max_rows``: a local
    batch, a limit, or a filter/anti-join of one) cannot fill a bucket
    past one block, so its pairs come from the plain self-join.
    """
    rows_per_band = num_hashes // bands
    # one band entry per input row and band: no bucket outgrows the input
    # (taken before the checkpoint, which drops the plan's bound)
    max_members = plan_max_rows(df)
    # the shingle/signature projection is the expensive stage: checkpoint
    # it ONCE so the band-bucket self-join and the verify join both read
    # the materialized result instead of recomputing the text pipeline;
    # at cluster scale this would be persist(MEMORY_AND_DISK) or an
    # intermediate table
    sigs = minhash_signature_df(df, text_col, id_col, k_shingle,
                                num_hashes,
                                use_arrow=use_arrow).localCheckpoint(eager=True)
    sh = sigs.select("id", "__shingles")

    # one parsed expression, one py4j call: the per-band struct tree
    # built column by column cost ~100 py4j calls per operator call
    band_entries = sigs.select(
        "id",
        F.expr(f"""explode(transform(sequence(0, {bands - 1}), b ->
            named_struct('band', b, 'bucket', xxhash64(concat_ws(',',
                transform(slice(signature, b * {rows_per_band} + 1,
                                {rows_per_band}),
                          x -> cast(x as string)))))))""").alias("bb"),
    ).select("id", "bb.band", "bb.bucket")

    cand = _bounded_bucket_pairs(band_entries, ["band", "bucket"],
                                 bucket_cap=bucket_cap,
                                 max_members=max_members)

    # verify candidates only: attach shingle sets by id
    cand = (cand
            .join(sh.select(F.col("id").alias("id_a"),
                            F.col("__shingles").alias("sh_a")), "id_a")
            .join(sh.select(F.col("id").alias("id_b"),
                            F.col("__shingles").alias("sh_b")), "id_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    union = (F.size("sh_a") + F.size("sh_b")).cast("double") - inter
    out = (cand.withColumn("jaccard",
                           F.when(union > 0, inter / union).otherwise(0.0))
           .filter(F.col("jaccard") >= threshold)
           .select("id_a", "id_b", "jaccard"))
    return out


def minhash_dedup(df: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id", **kw) -> DataFrame:
    """Drop near-duplicates: keep each doc unless a lower-id near-dup
    exists (single-link, one hop — the standard large-corpus practice)."""
    pairs = minhash_lsh_pairs(df, text_col, id_col, **kw)
    doomed = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return df.join(doomed, on=id_col, how="left_anti")


# ---------------------------------------------------------------------------
# exact n-gram jaccard similarity join (inverted index)
# ---------------------------------------------------------------------------


def ngram_jaccard_pairs(df: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id", k_shingle: int = 3,
                        threshold: float = 0.5,
                        max_doc_freq: int | None = None,
                        bucket_cap: int = 2000) -> DataFrame:
    """Exact jaccard similarity join via explode-on-shingle.

    |A ∩ B| comes from grouping the shingle-inverted index; pairs sharing
    no shingle never appear. Fully SQL-expressible (DuckDB oracle uses
    UNNEST + self-join), deterministic. Returns (id_a, id_b, jaccard).

    ``max_doc_freq``: scale valve for skew. A shingle present in s docs
    contributes s*(s-1)/2 candidate pairs, so one ubiquitous trigram
    ("one of the") can dominate the whole join. Setting a cutoff drops
    shingles whose document frequency exceeds it FROM BOTH the index and
    the union sizes — jaccard is then computed exactly over the
    discriminative shingle sets (the standard prefix/stop-shingle
    practice for web-scale similarity joins). None = textbook-exact.

    Independently of that semantic knob, the inverted-index self-join is
    tiled per shingle by ``bucket_cap`` (_bounded_bucket_pairs,
    count-preserving mode): even with ``max_doc_freq=None`` a shingle
    shared by k docs does its k^2/2 pair emissions across bounded block
    tasks instead of one straggler — result identical. A bounded input
    (``plan_max_rows`` <= ``bucket_cap``) is one block per shingle and
    runs the plain self-join.
    """
    # shingles are distinct per document: no shingle outgrows the input
    max_members = plan_max_rows(df)
    sh = (ensure_parallelism(df)
          .select(F.col(id_col).alias("id"),
                  shingles(F.col(text_col), k_shingle).alias("sh"))
          .localCheckpoint(eager=False))  # shingling runs once, not 2x
    # hash shingle strings to 64-bit keys before the self-join: the
    # shuffle moves 8-byte longs instead of full shingle strings
    inv = (sh.select("id", F.explode("sh").alias("__s"))
           .select("id", F.xxhash64("__s").alias("shingle")))
    if max_doc_freq is not None:
        inv, = _doc_freq_valve([inv], "shingle", max_doc_freq)
        sizes = inv.groupBy("id").agg(F.count(F.lit(1)).alias("n_sh"))
    else:
        sizes = sh.select("id", F.size("sh").alias("n_sh"))

    inter = (_bounded_bucket_pairs(inv, ["shingle"],
                                   bucket_cap=bucket_cap, distinct=False,
                                   max_members=max_members)
             .groupBy("id_a", "id_b")
             .agg(F.count(F.lit(1)).alias("n_inter")))

    sa = sizes.select(F.col("id").alias("id_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("n_sh").alias("n_b"))
    return (inter.join(sa, "id_a").join(sb, "id_b")
            .withColumn("jaccard",
                        F.col("n_inter").cast("double")
                        / (F.col("n_a") + F.col("n_b")
                           - F.col("n_inter")).cast("double"))
            .filter(F.col("jaccard") >= threshold)
            .select("id_a", "id_b", "jaccard"))


def ngram_containment_pairs(df: DataFrame, text_col: str = "text",
                            id_col: str = "doc_id", k_shingle: int = 3,
                            threshold: float = 0.8,
                            max_doc_freq: int | None = None,
                            bucket_cap: int = 2000) -> DataFrame:
    """Exact ASYMMETRIC containment join (Broder's c(A,B) =
    |A ∩ B| / |A| over k-shingle sets): catches SUBSUMED
    near-duplicates — a short page fully embedded in a longer
    boilerplate-wrapped variant — that symmetric jaccard structurally
    misses (when |B| >> |A|, |A∩B|/|A∪B| stays small even though A is
    entirely inside B, while |A∩B|/|A| is ~1). The standard companion
    signal to jaccard in web-dedup pipelines.

    Same machinery and scale posture as :func:`ngram_jaccard_pairs` —
    shingle inverted index with 8-byte hashed keys, per-shingle tiled
    self-join (never all-pairs), optional ``max_doc_freq`` stop-shingle
    valve applied consistently to index and sizes. Returns
    ``(id_a, id_b, containment_a, containment_b)`` for pairs where
    EITHER direction reaches ``threshold`` (containment_a = share of
    A's shingles found in B)."""
    max_members = plan_max_rows(df)  # as in ngram_jaccard_pairs
    sh = (ensure_parallelism(df)
          .select(F.col(id_col).alias("id"),
                  shingles(F.col(text_col), k_shingle).alias("sh"))
          .localCheckpoint(eager=False))
    inv = (sh.select("id", F.explode("sh").alias("__s"))
           .select("id", F.xxhash64("__s").alias("shingle")))
    if max_doc_freq is not None:
        inv, = _doc_freq_valve([inv], "shingle", max_doc_freq)
        sizes = inv.groupBy("id").agg(F.count(F.lit(1)).alias("n_sh"))
    else:
        sizes = sh.select("id", F.size("sh").alias("n_sh"))
    inter = (_bounded_bucket_pairs(inv, ["shingle"],
                                   bucket_cap=bucket_cap,
                                   distinct=False,
                                   max_members=max_members)
             .groupBy("id_a", "id_b")
             .agg(F.count(F.lit(1)).alias("n_inter")))
    sa = sizes.select(F.col("id").alias("id_a"),
                      F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("id").alias("id_b"),
                      F.col("n_sh").alias("n_b"))
    return (inter.join(sa, "id_a").join(sb, "id_b")
            .withColumn("containment_a",
                        F.col("n_inter").cast("double")
                        / F.col("n_a").cast("double"))
            .withColumn("containment_b",
                        F.col("n_inter").cast("double")
                        / F.col("n_b").cast("double"))
            .filter((F.col("containment_a") >= threshold)
                    | (F.col("containment_b") >= threshold))
            .select("id_a", "id_b", "containment_a", "containment_b"))


def cross_corpus_jaccard_pairs(new: DataFrame, corpus: DataFrame,
                               text_col: str = "text",
                               id_col: str = "doc_id",
                               k_shingle: int = 3,
                               threshold: float = 0.5,
                               max_doc_freq: int | None = None,
                               bucket_cap: int = 2000) -> DataFrame:
    """Incremental-dedup join: exact jaccard pairs between a NEW batch
    and an EXISTING corpus (bipartite — new-vs-new pairs are not
    produced; dedup the batch internally with
    :func:`ngram_jaccard_pairs` first if needed). This is the
    crawl-pipeline shape: each incoming snapshot is checked against the
    accumulated corpus without ever re-joining the corpus to itself.

    Same inverted-index design as :func:`ngram_jaccard_pairs`: shingles
    hash to 64-bit keys, only pairs sharing a shingle materialize, and
    ``max_doc_freq`` (document frequency across BOTH sides, matching
    the self-join's whole-input semantics) drops boilerplate shingles
    from both indexes AND both size denominators, keeping jaccard a
    true ratio over the surviving sets.

    Independently of that semantic knob, the shingle join is tiled by
    ``bucket_cap`` (:func:`_bounded_bipartite_pairs`): a shingle in
    ``s_new`` batch docs and ``s_cor`` corpus docs fans out
    ``s_new * s_cor`` pairs, and the grid tiling spreads them over
    ~cap^2 block tasks instead of one straggler — result identical.

    When ``max_doc_freq`` is None and ``new`` is bounded at <=
    ``bucket_cap`` rows (:func:`plan_max_rows`: a local batch, a limit,
    or a filter/anti-join of one), every shingle has one new-side block
    and the grid is the plain join. The new side's inverted index
    (<= ``bucket_cap`` documents' shingle rows, 32 B each) is then
    broadcast if one small job finds that the batch's token count, a
    hard bound on those rows, fits ``spark.sql.autoBroadcastJoinThreshold``
    (:func:`_index_fits_broadcast`); a batch of long documents tiles
    instead. The corpus side streams past the broadcast once; each
    task emits at most its corpus rows x ``bucket_cap`` pairs, the
    tiled block bound. Index rows carry their document's
    distinct-shingle count, so neither side is shingled twice. Ids key
    the documents: the result is identical to the tiled plan's when
    each id names one document per side.

    Returns (new_id, corpus_id, jaccard).
    """
    return _cross_corpus_pairs(new, corpus, plan_max_rows(new), text_col,
                               id_col, k_shingle, threshold, max_doc_freq,
                               bucket_cap)


#: Bytes of one broadcast index row (new_id, n_a, shingle) as an
#: UnsafeRow: the null bitset word plus three 8-byte slots.
_INDEX_ROW_BYTES = 32


def _index_fits_broadcast(new: DataFrame, text_col: str) -> bool:
    """Whether the new side's shingle index fits Spark's broadcast
    threshold (``spark.sql.autoBroadcastJoinThreshold``; -1 never
    fits). A row bound is no size bound: one long document has any
    number of shingles. A document has at most max(1, tokens) distinct
    shingles, so the batch's token count bounds the index rows. One
    job with no shuffle collects each document's count (``new`` is
    bounded, so at most ``bucket_cap`` integers). In
    :func:`cross_corpus_dedup` that job is the first read of the
    checkpointed batch, so it runs the batch's plan once, as the join
    would have."""
    budget = _parse_bytes(new.sparkSession.conf.get(
        "spark.sql.autoBroadcastJoinThreshold", "10MB"))
    if budget < 0:
        return False
    toks = F.size(F.split(F.trim(F.col(text_col)), r"\s+"))
    n = sum(r[0] for r in new.select(F.greatest(toks, F.lit(1))).collect())
    return n * _INDEX_ROW_BYTES <= budget


def _cross_corpus_pairs(new: DataFrame, corpus: DataFrame,
                        new_rows: int | None, text_col: str, id_col: str,
                        k_shingle: int, threshold: float,
                        max_doc_freq: int | None,
                        bucket_cap: int) -> DataFrame:
    """:func:`cross_corpus_jaccard_pairs` given the new side's row bound
    ``new_rows`` (:func:`plan_max_rows`), so that a caller which
    checkpoints ``new`` first can take the bound before it is lost."""
    def shingled(df_, tag):
        return df_.select(F.col(id_col).alias(f"{tag}_id"),
                          shingles(F.col(text_col), k_shingle).alias("sh"))

    def index(sh, tag, cols=()):
        return (sh.select(f"{tag}_id", *cols, F.explode("sh").alias("__s"))
                .select(f"{tag}_id", *cols,
                        F.xxhash64("__s").alias("shingle")))

    if (max_doc_freq is None and new_rows is not None
            and new_rows <= bucket_cap
            and _index_fits_broadcast(new, text_col)):
        def sized(df_, tag, size):
            return index(shingled(df_, tag).withColumn(size, F.size("sh")),
                         tag, [size])

        inter = (sized(ensure_parallelism(corpus), "corpus", "n_b")
                 .join(F.broadcast(sized(new, "new", "n_a")), "shingle")
                 .groupBy("new_id", "corpus_id", "n_a", "n_b")
                 .agg(F.count(F.lit(1)).alias("n_inter")))
    else:
        shn = shingled(ensure_parallelism(new), "new") \
            .localCheckpoint(eager=False)
        shc = shingled(ensure_parallelism(corpus), "corpus") \
            .localCheckpoint(eager=False)
        ninv, cinv = index(shn, "new"), index(shc, "corpus")
        if max_doc_freq is not None:
            ninv, cinv = _doc_freq_valve([ninv, cinv], "shingle",
                                         max_doc_freq)
            n_sizes = ninv.groupBy("new_id").agg(
                F.count(F.lit(1)).alias("n_a"))
            c_sizes = cinv.groupBy("corpus_id").agg(
                F.count(F.lit(1)).alias("n_b"))
        else:
            ninv = ninv.localCheckpoint(eager=False)
            cinv = cinv.localCheckpoint(eager=False)
            n_sizes = shn.select("new_id", F.size("sh").alias("n_a"))
            c_sizes = shc.select("corpus_id", F.size("sh").alias("n_b"))

        inter = (_bounded_bipartite_pairs(
                     ninv.select(F.col("new_id").alias("a_id"), "shingle"),
                     cinv.select(F.col("corpus_id").alias("b_id"),
                                 "shingle"),
                     ["shingle"], bucket_cap=bucket_cap)
                 .groupBy(F.col("a_id").alias("new_id"),
                          F.col("b_id").alias("corpus_id"))
                 .agg(F.count(F.lit(1)).alias("n_inter"))
                 .join(n_sizes, "new_id").join(c_sizes, "corpus_id"))
    return (inter
            .withColumn("jaccard",
                        F.col("n_inter").cast("double")
                        / (F.col("n_a") + F.col("n_b")
                           - F.col("n_inter")).cast("double"))
            .filter(F.col("jaccard") >= threshold)
            .select("new_id", "corpus_id", "jaccard"))


def cross_corpus_dedup(new: DataFrame, corpus: DataFrame,
                       text_col: str = "text", id_col: str = "doc_id",
                       k_shingle: int = 3, threshold: float = 0.5,
                       max_doc_freq: int | None = None,
                       bucket_cap: int = 2000) -> DataFrame:
    """Keep only the NEW-batch rows with no near-duplicate in the
    existing corpus (anti-join over :func:`cross_corpus_jaccard_pairs`
    — one extra shuffle on the id). The batch-admission filter of an
    incremental ingestion pipeline.

    ``new`` is read twice (shingled for the join, then anti-joined), so
    it is checkpointed once up front: when it is itself a dedup result
    (``minhash_dedup`` of the batch), its pair plan runs once, not
    twice. The checkpoint is lazy: its shuffle stages run here, and the
    final stage is kept by the first of the two reads. The checkpoint
    drops the plan's row bound, so the bound is taken before it: a
    batch of <= ``bucket_cap`` rows (with ``max_doc_freq`` None) whose
    shingle index fits Spark's broadcast threshold is matched by
    broadcasting that index instead of tiling the shingle grid (see
    :func:`cross_corpus_jaccard_pairs`)."""
    new_rows = plan_max_rows(new)
    new = new.localCheckpoint(eager=False)
    dup_ids = (_cross_corpus_pairs(
                   new, corpus, new_rows, text_col, id_col, k_shingle,
                   threshold, max_doc_freq, bucket_cap)
               .select(F.col("new_id").alias(id_col)).distinct())
    return new.join(dup_ids, id_col, "left_anti")


# ---------------------------------------------------------------------------
# simhash
# ---------------------------------------------------------------------------


def simhash_df(df: DataFrame, text_col: str = "text",
               id_col: str = "doc_id",
               use_arrow: "bool | None" = None) -> DataFrame:
    """id + 64-bit simhash.

    Two equivalent plans (asserted identical in tests):

    - pure JVM: token xxhash64, then ONE aggregate fold whose accumulator
      is (count, 64 bit-vote counters); the finish lambda packs
      ``2*votes > count`` back into a long. No Python workers anywhere.
    - arrow: the bit-vote runs as a numpy pandas UDF — the 64-mask
      ``zip_with`` fold is expression-heavy in codegen, so numpy wins
      once the corpus is past a few thousand docs, at the price of
      Python worker startup.

    ``use_arrow=None`` (default) picks by corpus size from Catalyst
    plan statistics (``plan_row_estimate`` — metadata only, no job).
    Pass an explicit bool to override the heuristic.
    """
    n_rows = None
    if use_arrow is None:
        n_rows = plan_row_estimate(df)  # metadata only — no count job
        if n_rows is None:
            n_rows = df.count()
        use_arrow = n_rows >= 2000
    toks = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    hashes = F.transform(toks, lambda t: F.xxhash64(t))

    if use_arrow:
        from pyspark.sql.functions import pandas_udf

        @pandas_udf("long")
        def _simhash(hash_arrays: pd.Series) -> pd.Series:
            out = np.empty(len(hash_arrays), dtype=np.int64)
            for i, hashes in enumerate(hash_arrays):
                if hashes is None or len(hashes) == 0:
                    out[i] = 0
                    continue
                h = np.asarray(hashes, dtype=np.int64).view(np.uint64)
                bits = np.unpackbits(h.view(np.uint8),
                                     bitorder="little").reshape(len(h), 64)
                votes = bits.sum(axis=0, dtype=np.int64) * 2 - len(h)
                out[i] = np.packbits(votes > 0,
                                     bitorder="little").view(np.int64)[0]
            return pd.Series(out)

        src = ensure_parallelism(df)
        if n_rows is not None:
            # bound Python worker spawns to the work available: each
            # worker costs ~0.5 s to start, and a few thousand docs per
            # worker amortizes that without starving parallelism.
            # coalesce never raises the partition count, so no
            # ``rdd.getNumPartitions()`` probe (a physical-plan compile)
            par = df.sparkSession.sparkContext.defaultParallelism
            src = src.coalesce(max(2, min(par, n_rows // 1500)))
        return src.select(
            F.col(id_col).alias("id"), _simhash(hashes).alias("simhash"))

    # literal bit masks 1<<0 .. 1<<63 (top one as the int64 sign value);
    # a mask array sidesteps shift functions, whose shift amount must be
    # a Python int, not a per-element column
    masks = lit_longs([(1 << i) if i < 63 else -(1 << 63)
                       for i in range(64)])

    def vote(acc, h):
        return F.struct(
            (acc.n + 1).alias("n"),
            F.zip_with(acc.v, masks,
                       lambda v, m: v + F.when(h.bitwiseAND(m) != 0, 1)
                       .otherwise(0)).alias("v"))

    def pack(acc):
        # set bits are distinct powers of two, so a plain sum (including
        # the negative sign-bit value) reassembles the two's-complement
        # fingerprint without carries
        signed = F.zip_with(
            acc.v, masks,
            lambda v, m: F.when(v * 2 > acc.n, m)
            .otherwise(F.lit(0).cast("long")))
        return F.aggregate(signed, F.lit(0).cast("long"),
                           lambda s, x: s + x)

    sim = F.coalesce(  # null text -> 0, matching the arrow path
        F.aggregate(
            hashes,
            F.struct(F.lit(0).cast("long").alias("n"),
                     F.array_repeat(F.lit(0).cast("long"), 64).alias("v")),
            vote, pack),
        F.lit(0).cast("long"))
    return ensure_parallelism(df).select(F.col(id_col).alias("id"),
                                         sim.alias("simhash"))


def simhash_pairs(df: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id", max_hamming: int = 3,
                  bucket_cap: int = 2000,
                  use_arrow: "bool | None" = None) -> DataFrame:
    """Near-dup pairs with hamming(simhash_a, simhash_b) <= max_hamming.

    Candidates come from 4x16-bit band buckets (two fingerprints within
    hamming 3 of each other must agree on at least one 16-bit band);
    verification uses built-in bit_count(xor) — all JVM-side. A hot
    band bucket (identical fingerprints, e.g. boilerplate) is tiled by
    ``bucket_cap`` (see ``_bounded_bucket_pairs``); a bounded input
    (``plan_max_rows`` <= ``bucket_cap``) runs the plain self-join.
    """
    # one entry per input row and band; the checkpoint drops the bound
    max_members = plan_max_rows(df)
    # two narrow columns; checkpoint so the pandas-UDF hashing stage runs
    # once, not on both sides of the self-join
    sh = simhash_df(df, text_col, id_col,
                    use_arrow=use_arrow).localCheckpoint(eager=False)
    bands = sh.select(
        "id", "simhash",
        F.explode(F.array(*[
            F.struct(F.lit(b).alias("band"),
                     F.shiftrightunsigned("simhash", 16 * b)
                     .bitwiseAND(F.lit(0xFFFF)).alias("bucket"))
            for b in range(4)
        ])).alias("bb")
    ).select("id", "simhash", "bb.band", "bb.bucket")
    cand = (_bounded_bucket_pairs(bands, ["band", "bucket"],
                                  payload=["simhash"],
                                  bucket_cap=bucket_cap,
                                  max_members=max_members)
            .withColumnRenamed("simhash_a", "sh_a")
            .withColumnRenamed("simhash_b", "sh_b"))
    ham = F.expr("bit_count(sh_a ^ sh_b)")
    return (cand.withColumn("hamming", ham)
            .filter(F.col("hamming") <= max_hamming)
            .select("id_a", "id_b", "hamming"))


# ---------------------------------------------------------------------------
# embedding cosine near-dup
# ---------------------------------------------------------------------------


def embedding_neardup_pairs(df: DataFrame, vec_col: str = "embedding",
                            id_col: str = "vec_id", dim: int = 64,
                            n_planes: int = 12, threshold: float = 0.95,
                            seed: int = 42, exact: bool = False,
                            n_blocks: int | None = None,
                            n_tables: int = 1,
                            bucket_cap: int = 2000) -> DataFrame:
    """Cosine-similar pairs (sim >= threshold).

    ``exact=False`` (approximate scale path): random-hyperplane LSH —
    vectors agreeing on all ``n_planes`` sign bits land in one bucket;
    exact cosine runs on same-bucket pairs only, JVM-side; hot buckets
    are tiled into bounded block tasks by ``bucket_cap``.

    ``exact=True`` (exact, still distributed): block-partitioned matrix
    join. Each vector is hashed into one of B blocks; every unordered
    block pair (p <= q) becomes one task whose two blocks are multiplied
    with a single numpy matmul inside ``applyInPandas``. No data ever
    reaches the driver; per-task memory is bounded by 2N/B vectors; the
    O(N^2) similarity work is spread over B(B+1)/2 independent tasks.
    Shuffle volume is N*(B+1) rows (each vector joins B+1 tasks) — the
    unavoidable replication cost of exact all-pairs; for corpora where
    that is too much, use the LSH path.
    """
    if exact:
        spark = df.sparkSession
        if n_blocks is None:
            # Size B from the corpus (one cheap metadata-backed count):
            # enough tasks to feed the cluster (~2 per core: B ~= 2*sqrt(P)),
            # but never so many that a block holds < ~500 vectors (each
            # Python worker costs ~0.5 s to spawn), and always enough that
            # a block fits executor memory (~500k x 64-dim f64 = 256 MB).
            n = df.count()
            par = spark.sparkContext.defaultParallelism
            want_par = max(2, int((4 * par) ** 0.5))
            mem_floor = -(-n // 500_000)  # ceil
            n_blocks = max(min(want_par, max(2, n // 500)), mem_floor, 2)
        thr = float(threshold)

        out_schema = T.StructType([
            T.StructField("id_a", T.LongType()),
            T.StructField("id_b", T.LongType()),
            T.StructField("cosine", T.DoubleType()),
        ])

        v = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec"),
                      F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_blocks))
                      .alias("__blk"))
        tasks = spark.createDataFrame(
            [(p, q) for p in range(n_blocks) for q in range(p, n_blocks)],
            "blk_a: long, blk_b: long")
        # tag each vector with every task it participates in; a diagonal
        # task (p == q) carries its block once and self-joins in-task
        left = (v.join(F.broadcast(tasks), v["__blk"] == tasks["blk_a"])
                .select("blk_a", "blk_b", "id", "vec",
                        F.lit(0).alias("side")))
        right = (v.join(F.broadcast(tasks.filter("blk_a != blk_b")),
                        v["__blk"] == tasks["blk_b"])
                 .select("blk_a", "blk_b", "id", "vec",
                         F.lit(1).alias("side")))

        def run(key, pdf):
            p, q = key
            ln = pdf[pdf["side"] == 0]
            rn = pdf[pdf["side"] == 1] if p != q else ln
            if not len(ln) or not len(rn):
                return pd.DataFrame(
                    {"id_a": [], "id_b": [], "cosine": []}).astype(
                    {"id_a": "int64", "id_b": "int64", "cosine": "float64"})
            lids = ln["id"].to_numpy(dtype=np.int64)
            rids = rn["id"].to_numpy(dtype=np.int64)
            lm = np.array(ln["vec"].tolist(), dtype=np.float64)
            rm = np.array(rn["vec"].tolist(), dtype=np.float64)
            lm /= np.clip(np.linalg.norm(lm, axis=1, keepdims=True),
                          1e-12, None)
            rm /= np.clip(np.linalg.norm(rm, axis=1, keepdims=True),
                          1e-12, None)
            sims = lm @ rm.T
            # each unordered id pair occurs exactly once across tasks;
            # order ids within the pair at emit time
            mask = (sims >= thr) & (lids[:, None] != rids[None, :])
            ai, bj = np.nonzero(mask)
            a, b = lids[ai], rids[bj]
            lo, hi = np.minimum(a, b), np.maximum(a, b)
            out = pd.DataFrame({"id_a": lo, "id_b": hi,
                                "cosine": sims[ai, bj]})
            if p == q:  # both orientations hit the mask — keep one
                out = out[a < b]
            return out

        return (left.unionByName(right)
                .groupBy("blk_a", "blk_b")
                .applyInPandas(run, schema=out_schema))

    v = ensure_parallelism(df).select(F.col(id_col).alias("id"),
                                      F.col(vec_col).alias("vec"))
    sigs = []
    for t in range(n_tables):
        rng = np.random.default_rng(seed + t)
        planes = rng.standard_normal((n_planes, dim))
        sigs.append(hyperplane_signature(F.col("vec"), planes))
    # L independent hash tables: a near pair missed by one table's
    # signature is caught by another — recall 1-(1-p^b)^L where
    # p = 1 - angle/pi. Bucket key is (table, signature), so tables
    # co-shuffle in ONE self-join; duplicate candidates collapse before
    # the exact-cosine verify.
    sig = (v.select("id", "vec",
                    F.posexplode(F.array(*sigs)).alias("__t", "__sig"))
           .localCheckpoint(eager=False))
    # hot signature buckets (many near-identical embeddings) are tiled
    # into bounded block tasks — see _bounded_bucket_pairs
    pairs = _bounded_bucket_pairs(sig, ["__t", "__sig"], payload=["vec"],
                                  bucket_cap=bucket_cap)
    sim = cosine(F.col("vec_a"), F.col("vec_b"))
    return (pairs.select("id_a", "id_b", sim.alias("cosine"))
            .filter(F.col("cosine") >= threshold))


def edit_distance_pairs(df: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id", k_shingle: int = 5,
                        max_distance: int = 20, max_len: int = 400,
                        bucket_cap: int = 2000) -> DataFrame:
    """Near-duplicate pairs by Levenshtein distance over whitespace-
    normalized text: candidates from the k-word-shingle inverted index
    (pairs sharing no shingle never compare), verified with the JVM
    built-in ``levenshtein`` with an early-exit threshold — the
    classic candidate-then-verify edit-distance join, fully
    SQL-expressible (DuckDB's ``levenshtein`` is the oracle).

    ``max_len`` bounds the O(n*m) verify per pair (edit distance on
    megabyte documents is never the right tool — use jaccard/minhash
    there); the threshold arg makes the JVM verify O(n * max_distance).
    Returns (id_a, id_b, distance), ordered pairs id_a < id_b.

    Scale: candidate generation is the same tiled inverted-index join
    as :func:`ngram_jaccard_pairs` (hot shingles block-tiled); the
    verify joins only candidate ids back to their texts — two
    broadcast-or-shuffle hash joins on id, no text ever in the
    candidate shuffle.
    """
    from ..functions.text import shingles

    norm = F.concat_ws(
        " ", F.split(F.lower(F.trim(F.col(text_col))), r"\s+"))
    base = (ensure_parallelism(df)
            .select(F.col(id_col).alias("id"), norm.alias("__t"))
            .filter((F.length("__t") > 0)
                    & (F.length("__t") <= max_len))
            .localCheckpoint(eager=False))
    inv = (base.select("id", F.explode(
        shingles(F.col("__t"), k_shingle)).alias("__s"))
        .select("id", F.xxhash64("__s").alias("shingle")))
    cand = _bounded_bucket_pairs(inv, ["shingle"],
                                 bucket_cap=bucket_cap, distinct=True)
    a = base.select(F.col("id").alias("id_a"), F.col("__t").alias("__ta"))
    b = base.select(F.col("id").alias("id_b"), F.col("__t").alias("__tb"))
    return (cand.join(a, "id_a").join(b, "id_b")
            .withColumn("distance",
                        F.levenshtein("__ta", "__tb",
                                      int(max_distance)))
            .filter(F.col("distance") >= 0)
            .select("id_a", "id_b", "distance"))


def lsh_tune(threshold: float, num_hashes: int = 128
             ) -> "tuple[int, int, float]":
    """Pick ``(bands, rows_per_band, s50)`` for a MinHash-LSH index
    from a target Jaccard ``threshold`` (the standard S-curve fit,
    Leskovec/Rajaraman/Ullman ch. 3): a pair of similarity ``s``
    collides in at least one band with probability
    ``1 - (1 - s^r)^b``, whose inflection sits near ``(1/b)^(1/r)``.
    Among the divisor pairs ``b * r == num_hashes``, choose the one
    whose inflection point lands closest to the target (ties break to
    at-or-below it: a verify step restores precision, nothing restores
    pairs the index never generated), so candidates are dense right of
    the threshold and sparse left of it. Returns the chosen bands, rows, and the
    actual inflection similarity ``s50``.

    Pure driver-side math: feed the result straight into
    ``minhash_lsh_pairs(num_hashes=..., bands=...)``. At 100 TB the
    tuning IS the scale knob — too many bands floods the bucket join
    with low-similarity candidates, too few misses true pairs and no
    verify step can recover them.
    """
    if not 0.0 < threshold < 1.0:
        raise ValueError("threshold must be in (0, 1)")
    if num_hashes < 2:
        raise ValueError("num_hashes must be >= 2")
    best = None
    for b in range(1, num_hashes + 1):
        if num_hashes % b:
            continue
        r = num_hashes // b
        s50 = (1.0 / b) ** (1.0 / r)
        # closest inflection wins; ties break to at-or-below the
        # target (recall first — a verify step restores precision,
        # nothing restores pairs the index never generated)
        key = (abs(threshold - s50), 0 if s50 <= threshold else 1)
        if best is None or key < best[0]:
            best = (key, b, r, s50)
    _, b, r, s50 = best
    return b, r, round(s50, 6)


def paragraph_dedup_within(df: DataFrame, text_col: str = "text",
                           id_col: str = "doc_id",
                           sep: str = "\n") -> DataFrame:
    """INTRA-document repeated-paragraph removal (the Gopher-style
    per-doc cleanup that precedes corpus passes): within each document,
    keep only the FIRST occurrence of each trim-keyed paragraph,
    preserving order; whitespace-only segments are structural and
    always kept. Returns ``(id, text, n_removed)``.

    Scale: a pure per-row JVM ``aggregate`` fold over the split array —
    zero Python, ZERO shuffle (contrast :func:`paragraph_dedup`, the
    corpus-level pass, which must shuffle on the paragraph key). The
    fold is O(paragraphs^2) per doc via array_contains, fine for
    real document paragraph counts.
    """
    sep_rx = "\\Q" + sep.replace("\\E", "\\E\\\\E\\Q") + "\\E"
    parts = F.split(F.col(text_col), sep_rx, -1)
    acc0 = F.struct(
        F.array().cast("array<string>").alias("seen"),
        F.array().cast("array<string>").alias("out"))
    folded = F.aggregate(
        parts, acc0,
        lambda acc, p: F.when(
            F.trim(p) == "",
            F.struct(acc["seen"].alias("seen"),
                     F.concat(acc["out"], F.array(p)).alias("out")))
        .when(
            ~F.array_contains(acc["seen"], F.trim(p)),
            F.struct(F.concat(acc["seen"],
                              F.array(F.trim(p))).alias("seen"),
                     F.concat(acc["out"], F.array(p)).alias("out")))
        .otherwise(acc))
    return df.select(
        F.col(id_col),
        F.array_join(folded["out"], sep).alias(text_col),
        (F.size(parts) - F.size(folded["out"]))
        .cast("int").alias("n_removed"))


# ---------------------------------------------------------------------------
# SemDeDup: semantic deduplication via within-cluster prefix pruning
# ---------------------------------------------------------------------------


def semdedup(df: DataFrame, n_clusters: int = 16,
             threshold: float = 0.95, vec_col: str = "embedding",
             id_col: str = "vec_id", iters: int = 4, seed: int = 42,
             centroids=None, max_cluster: int = 20_000) -> DataFrame:
    """SemDeDup semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): k-means the embedding space, then within each
    cluster drop every item whose cosine similarity to any EARLIER
    item exceeds ``threshold`` (the paper's ``1 - eps``). Items are
    ordered farthest-from-centroid first (ascending centroid cosine,
    id tiebreak), the released SemDeDup convention — the most
    centroid-distant member of a duplicate neighborhood survives.

    The drop rule compares against all earlier items, kept or not
    (the paper's released semantics: one upper-triangular max, fully
    vectorized), so the decision is a pure prefix max — no sequential
    dependence on keep status.

    Scale shape: clustering bounds the O(N^2) comparison to
    O(sum m_c^2) — the whole point of SemDeDup; at 100 TB you raise
    ``n_clusters`` until clusters are executor-sized (the paper uses
    50k clusters for LAION). Each cluster is ONE applyInPandas task
    holding an m x m float64 similarity matrix, so the real bound is
    MEMORY: the default ``max_cluster`` of 20k caps the matrix at
    ~3.2 GB (20k^2 doubles); a cluster above it raises loudly with
    the raise-``n_clusters`` guidance rather than OOMing an executor.
    Never corpus x corpus, nothing collected to the driver.

    ``centroids``: optional fixed ``k x dim`` matrix — skip the
    k-means and only assign (deterministic, SQL-reproducible; the
    oracle path). Default None trains with :func:`clustering.kmeans`.

    Returns one row per input row: ``id_col``, ``cluster``,
    ``centroid_sim``, ``max_prior_sim`` (-1 for each cluster's first
    item), ``keep``.
    """
    from .clustering import assign_to_centroids, kmeans

    if centroids is None:
        # hash seeding: one job instead of k one-row farthest-point
        # jobs — SemDeDup runs at large n_clusters where the paper's
        # random seeding is standard, and the farthest-point guard
        # against split blobs matters for small analytic k, not here
        assigned, centroids = kmeans(
            df, n_clusters=n_clusters, vec_col=vec_col, id_col=id_col,
            iters=iters, seed=seed, init="hash")
    else:
        assigned = assign_to_centroids(
            ensure_parallelism(df), centroids, vec_col=vec_col)
    cents = np.asarray(centroids, dtype="float64")
    thr = float(threshold)
    cap = int(max_cluster)

    out_schema = T.StructType([
        T.StructField(id_col, T.LongType()),
        T.StructField("cluster", T.IntegerType()),
        T.StructField("centroid_sim", T.DoubleType()),
        T.StructField("max_prior_sim", T.DoubleType()),
        T.StructField("keep", T.BooleanType()),
    ])

    def prune(pdf: pd.DataFrame) -> pd.DataFrame:
        m = len(pdf)
        c = int(pdf["cluster"].iloc[0])
        if m > cap:
            raise ValueError(
                f"semdedup cluster {c} holds {m} vectors "
                f"(> max_cluster={cap}); raise n_clusters so clusters "
                "are executor-sized")
        X = np.array(pdf[vec_col].tolist(), dtype="float64")
        norms = np.linalg.norm(X, axis=1)
        norms[norms == 0.0] = 1.0
        Xn = X / norms[:, None]
        cv = cents[c]
        cn = float(np.linalg.norm(cv)) or 1.0
        csim = Xn @ (cv / cn)
        ids = pdf[id_col].to_numpy()
        order = np.lexsort((ids, csim))
        S = Xn[order] @ Xn[order].T
        prior = np.full(m, -1.0)
        if m > 1:
            upper = np.where(
                np.arange(m)[:, None] < np.arange(m)[None, :],
                S, -np.inf)
            prior[1:] = upper.max(axis=0)[1:]
        keep = prior <= thr
        keep[0] = True       # a cluster's first item always survives
        return pd.DataFrame({
            id_col: ids[order],
            "cluster": np.full(m, c, dtype="int32"),
            "centroid_sim": csim[order],
            "max_prior_sim": prior,
            "keep": keep,
        })

    return (assigned
            .select(id_col, vec_col, "cluster")
            .groupBy("cluster").applyInPandas(prune, out_schema))
