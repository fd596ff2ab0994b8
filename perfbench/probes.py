"""Layer probes, run only in the traced run, after the measured loop.

The same probes run on every workload, so each layer has a figure in
every traced run.  Each probe calls one layer's public functions on
fixed inputs, repeats ``REPS`` times and keeps the fastest repetition
(the JVM is warm only for the layers the workload itself exercised):

- ``plans.odm``/``plans.commands``: the flagship import;
- ``sources.odm_xml``: the XML import (scan, parse, route, the generic
  sha1 generator) and ``read_odm_xml`` alone;
- ``functions.keys``: id columns over a fixed row count, sunk;
- ``plans.merge``/``plans.ivm``: state cycles on a table of its own,
  then one maintenance window;
- ``operators``: one registered query per module, built and sunk, and
  checked against its DuckDB twin.
"""

from __future__ import annotations

import statistics
import time

from checks import duck_connect, duck_digest, digestible, expect, spark_digest
from workloads import (
    FlagshipImport,
    StateStore,
    XmlImport,
    import_once,
    maintenance,
    state_cycle,
)

REPS = 2
KEY_ROWS = 400_000

# one query per operators module: the first each module registers
OPERATOR_QUERIES = {
    "relational": "q1_pricing_summary",
    "dedup": "dedup_basic_pack",
    "similarity": "knn_pack",
    "textops": "text_pack",
    "multimodal": "multimodal_meta",
    "curation": "stratified_sample",
    "cdc": "merge_lww",
}


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _repeat(ctx, label: str, fn, reps: int = REPS) -> list:
    """``fn()`` ``reps`` times under the ledger; the results that passed."""
    out = []
    for k in range(reps):
        ctx.ledger.run(f"{label} {k + 1}", lambda: out.append(fn(k)))
    return out


def imports(ctx, m: dict) -> str:
    """Flagship and XML imports; returns the rendered XML glob."""
    flag = FlagshipImport(ctx)
    flag.prepare_checks()
    recs = _repeat(ctx, "probe flagship import", lambda k: import_once(
        ctx, flag, flag.default_batch_id() if k == 0 else ctx.batch_id(), full=k == 0, op="probe"))
    m["plans.odm.import_s"] = min(r["op_s"] for r in recs)
    m["plans.commands.build_s"] = min(r["build_s"] for r in recs)

    xml = XmlImport(ctx)
    xml.prepare()
    recs = _repeat(ctx, "probe XML import", lambda k: import_once(
        ctx, xml, xml.default_batch_id() if k == 0 else ctx.batch_id(), full=k == 0, op="probe"))
    m["sources.odm_xml.import_s"] = min(r["op_s"] for r in recs)
    m["plans.commands.generic_build_s"] = min(r["build_s"] for r in recs)
    return xml.glob


def xml_parse(ctx, glob: str, m: dict) -> None:
    """``read_odm_xml`` alone, sunk, with its dead-letter count."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from lens_sds_batch_spark.sources.odm_xml import read_odm_xml

    def once(_):
        obs = Observation("perfbench-parse")
        dead = F.sum(F.when(F.col("error").isNotNull(), 1).otherwise(0)).alias("dead")
        with ctx.tracer.span("sources.odm_xml.parse", op="probe") as s:
            _noop(read_odm_xml(ctx.spark, glob).observe(obs, dead))
        expect(obs.get["dead"] == 1, f"parse dead letters {obs.get['dead']}, expected 1")
        return s.wall

    m["sources.odm_xml.parse_s"] = min(_repeat(ctx, "probe XML parse", once))
    m["sources.odm_xml.dead_letters"] = 1


def keys(ctx, m: dict) -> None:
    """Ids per second of ``uuid3_str_col`` (md5) and ``uuid5_col`` (sha1)."""
    from pyspark.sql import functions as F

    from lens_sds_batch_spark.functions.keys import NIL_UUID, uuid3_str_col, uuid5_col

    for name, fn in (("uuid3", uuid3_str_col), ("uuid5", uuid5_col)):
        def once(_):
            n = ctx.spark.sparkContext.defaultParallelism
            ids = ctx.spark.range(KEY_ROWS, numPartitions=n)
            with ctx.tracer.span(f"functions.keys.{name}", op="probe") as s:
                _noop(ids.select(fn(NIL_UUID, [F.lit("probe"), F.col("id").cast("string")])))
            return s.wall

        m[f"functions.keys.{name}_ids_per_s"] = KEY_ROWS / min(_repeat(ctx, f"probe {name}", once))


def state(ctx, m: dict) -> None:
    """State cycles on a probe table (the first creates it and
    bootstraps the aggregate), then one maintenance window."""
    store = StateStore(ctx, "state_probe")
    store.prepare()
    recs = _repeat(ctx, "probe state cycle", lambda k: state_cycle(ctx, store, op="probe"), REPS + 1)[1:]
    for k in ("commit", "refresh", "lookup"):
        layer = "plans.ivm" if k == "refresh" else "plans.merge"
        m[f"{layer}.{k}_s"] = min(r[f"{k}_s"] for r in recs)
    m["plans.merge.files_per_commit"] = statistics.mean(r["commit_files"] for r in recs)
    m["plans.merge.write_mb_per_commit"] = statistics.mean(r["commit_mb"] for r in recs)
    m["plans.ivm.groups_changed"] = statistics.mean(r["groups_changed"] for r in recs)
    m["state_spans"] = [r["span"] for r in recs]
    fin = {}
    ctx.ledger.run("probe maintenance", lambda: fin.update(maintenance(ctx, store, op="probe")))
    m["plans.merge.maintain_s"] = fin["maintain_s"]
    m["plans.merge.space_amp"] = fin["space_amp"]


def operators(ctx, m: dict) -> None:
    """(build_s, exec_s) per operators module, each output checked
    against its DuckDB twin (rows only when it is not digestible)."""
    from lens_sds_batch_spark.operators import registry

    queries = registry.all_queries()
    con = duck_connect(ctx.data)
    for module, name in OPERATOR_QUERIES.items():
        builder, twin_sql = queries[name]

        def once(k):
            with ctx.tracer.span(f"operators.{module}", op="probe"):
                t = time.perf_counter()
                df = builder(ctx.spark, ctx.data)
                b = time.perf_counter() - t
                t = time.perf_counter()
                _noop(df)
                e = time.perf_counter() - t
            if k == 0:
                if digestible(df):
                    got, want = spark_digest(df), duck_digest(con, twin_sql, df.dtypes)
                else:
                    got = (df.count(),)
                    want = con.execute(f"SELECT count(*) FROM ({twin_sql})").fetchone()[:1]
                expect(tuple(got) == tuple(want), f"{name}: {got} != DuckDB twin {want}")
            return b, e

        runs = _repeat(ctx, f"probe operators.{module}:{name}", once)
        m[f"operators.{module}.build_s"] = min(b for b, _ in runs)
        m[f"operators.{module}.exec_s"] = min(e for _, e in runs)
    con.close()


def run_all(ctx) -> dict:
    m: dict = {}
    glob = imports(ctx, m)
    xml_parse(ctx, glob, m)
    keys(ctx, m)
    state(ctx, m)
    operators(ctx, m)
    return m
