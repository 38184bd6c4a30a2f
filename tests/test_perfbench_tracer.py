"""The serving benchmark's tracer (perfbench/tracer.py) wraps engine
functions by name on ``timely_spark.api``; its layer spans exist only
while the engine still calls those names."""

from perfbench.tracer import Tracer
from timely_spark.api import ALL_AUTHS, TimelyEngine


def test_tracer_records_store_and_builder_spans(spark, tmp_path):
    b = 1_447_767_913_000
    eng = TimelyEngine(spark, store_path=str(tmp_path / "s"))
    tracer = Tracer(spark)
    tracer.install()
    try:
        eng.put_json([{"metric": "m", "timestamp": b + i, "value": 1.0,
                       "tags": {"host": "h1"}} for i in range(3)])
        got = eng.query({"start": b, "end": b + 10, "queries": [
            {"aggregator": "sum", "metric": "m", "tags": {}}]}, auths=ALL_AUTHS)
    finally:
        tracer.uninstall()
    assert got and got[0]["metric"] == "m"
    names = {s["name"] for s in tracer.spans}
    assert {"api.put", "store.write", "api.query", "builder.build", "store.read"} <= names
