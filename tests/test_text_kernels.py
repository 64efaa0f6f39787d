"""Window kernels of ``functions/text.py``: lambda bodies hold no
row-derived work, and ``shingles`` matches a pure-Python reference.

Higher-order-function lambdas are interpreted and never CSE'd, so a
row-derived subtree inside one is re-evaluated per array element (see
the ``functions/text.py`` module docstring). The structural check walks
the analyzed Catalyst expression; no Spark job runs.
"""

import re

import pytest
from pyspark.sql import functions as F

from xdlake_spark.functions.text import kgram_hashes, shingles


def _tree(e):
    """Python copy of a Catalyst expression tree: class, foldability,
    children, and the lambda variables each node binds or is."""
    name = e.getClass().getSimpleName()
    if name == "LambdaFunction":
        args = e.arguments()
        bind = {args.apply(i).exprId().id() for i in range(args.size())}
        kids = [e.function()]
    else:
        bind = set()
        cs = e.children()
        kids = [cs.apply(i) for i in range(cs.size())]
    return {"name": name, "text": e.toString(), "foldable": e.foldable(),
            "var": (e.exprId().id() if name == "NamedLambdaVariable"
                    else None),
            "bind": bind, "kids": [_tree(k) for k in kids]}


def _free_vars(node):
    free = {node["var"]} if node["var"] is not None else set()
    for k in node["kids"]:
        free |= _free_vars(k)
    return free - node["bind"]


def _lambda_findings(node, bound=frozenset()):
    """(hoistable, splits): maximal non-constant subtrees inside a lambda
    body that use no variable of an enclosing lambda, and every
    StringSplit inside a lambda body."""
    hoist, splits = [], []
    if bound and node["name"] == "StringSplit":
        splits.append(node["text"])
    if bound and not node["foldable"] and not (_free_vars(node) & bound):
        hoist.append(node["text"])
        return hoist, splits
    inner = bound | node["bind"]
    for k in node["kids"]:
        h, s = _lambda_findings(k, inner)
        hoist += h
        splits += s
    return hoist, splits


def _analyzed(spark, col):
    plan = (spark.createDataFrame([("a b c d",)], "text string")
            .select(col.alias("out"))._jdf.queryExecution().analyzed())
    return _tree(plan.projectList().apply(0))


class TestLambdaBodiesHoisted:
    @pytest.mark.parametrize("kernel,k", [
        (shingles, 1), (shingles, 3), (shingles, 5),
        (kgram_hashes, 1), (kgram_hashes, 8)])
    def test_no_row_work_inside_lambdas(self, spark, kernel, k):
        tree = _analyzed(spark, kernel(F.col("text"), k))
        hoist, splits = _lambda_findings(tree)
        assert splits == []
        assert hoist == []

    def test_checker_flags_per_element_split(self, spark):
        """The walker itself must catch the defect it guards against."""
        toks = F.split(F.col("text"), " ")
        col = F.transform(F.sequence(F.lit(1), F.size(toks)),
                          lambda i: F.element_at(toks, i))
        hoist, splits = _lambda_findings(_analyzed(spark, col))
        assert len(splits) == 1 and len(hoist) == 1


def _ref_shingles(text, k):
    """Spark semantics in Python: ``trim`` strips spaces only, ``lower``
    then ``split`` on Java's ASCII ``\\s+`` keeping empty edge tokens,
    null text shingles as the empty string, and ``array_distinct``
    keeps first occurrences."""
    if text is None:
        return [""]
    toks = re.split(r"\s+", text.lower().strip(" "), flags=re.ASCII)
    if len(toks) < k:
        grams = [" ".join(toks)]
    else:
        grams = [" ".join(toks[i:i + k]) for i in range(len(toks) - k + 1)]
    return list(dict.fromkeys(grams))


class TestShinglesReference:
    TEXTS = [None, "", "   ", "\t", " a\tb  c ", "A  B\t\tC\nd",
             "one", "one two", "x y x y x y x y", "a a a a a",
             "The cat sat on the mat and the cat sat"]

    def test_matches_python_reference(self, spark):
        df = spark.createDataFrame(list(enumerate(self.TEXTS)),
                                   "doc_id int, text string")
        ks = range(1, 6)
        rows = df.select("doc_id", *[shingles(F.col("text"), k)
                                     .alias(f"k{k}") for k in ks]).collect()
        got = {(r["doc_id"], k): r[f"k{k}"] for r in rows for k in ks}
        want = {(i, k): _ref_shingles(t, k)
                for i, t in enumerate(self.TEXTS) for k in ks}
        assert got == want
