"""The two workloads, the import paths and the state store.

Each workload is a closed loop with one client: one operation at a
time, the next one only after the previous one finished.

- ``odm_import``: one operation is one flagship import, the
  parquet-derived ODM tree to its command set, written to the noop sink.
- ``state_commit``: one operation is one state cycle: a subject-state
  micro-batch committed into a manifest table, the maintained
  per-study aggregate refreshed, and a few keys looked up.

The first ``WARMUPS`` operations are the warm-up and count toward
``setup_s``.  Operation times keep falling for many operations after
that, as the JVM compiles the driver-side code, and how fast they fall
differs from run to run; so the next ``SETTLE`` operations are run and
checked but timed into nothing.  Then a fixed number of operations is
measured: ``--seconds`` over the workload's nominal settled operation
time (``OP_S``).  The count is fixed, not the time, so that every run
measures the same operations: a time-bounded window would reach later,
faster operations on a faster host and widen every difference between
runs.  Every operation is checked outside its timed region.
"""

from __future__ import annotations

import os
import random
import shutil
import statistics
import time
import uuid

from checks import COMMAND_NAMES, Ledger, digest_sum, duck_connect, duck_digest, expect
from spans import Tracer

SETUPS = 3  # session set-ups per run; setup_s takes their median
WARMUPS = 2  # the first operations, timed into setup_s instead
MIN_OPS = 3  # measured operations per run, however short --seconds is


def measured_ops(seconds: float, op_s: float) -> int:
    return max(MIN_OPS, round(seconds / op_s))


class Ctx:
    """Everything one run shares: paths, seed, session, tracer, ledger."""

    def __init__(self, data: str, work: str, seed: int, seconds: float, trace: bool):
        self.data = data
        self.work = work
        self.seconds = seconds
        self.trace = trace
        self.rng = random.Random(seed)
        self.spark = None
        self.tracer = Tracer()
        self.ledger = Ledger()

    def new_session(self) -> float:
        """(Re)build the session through the program's own factory;
        returns the wall time of ``get_spark``."""
        from lens_sds_batch_spark.session import get_spark

        if self.spark is not None:
            self.spark.stop()
        t = time.perf_counter()
        self.spark = get_spark("perfbench")
        wall = time.perf_counter() - t
        self.spark.sparkContext.setLogLevel("ERROR")
        if self.trace:
            self.tracer.jobs = self.spark.sparkContext
        return wall

    def batch_id(self) -> str:
        return str(uuid.UUID(int=self.rng.getrandbits(128), version=4))


def observed_noop(df, extra: dict | None = None) -> dict:
    """Write ``df`` to the noop sink while an Observation counts its
    rows per command name (plus the ``extra`` named aggregates)."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    obs = Observation("perfbench")
    exprs = [F.count(F.lit(1)).alias("rows")]
    exprs += [
        F.sum(F.when(F.col("name") == n, 1).otherwise(0)).alias(f"n{i}")
        for i, n in enumerate(COMMAND_NAMES)
    ]
    extra = extra or {}
    exprs += [e.alias(name) for name, e in extra.items()]
    df.observe(obs, *exprs).write.format("noop").mode("overwrite").save()
    got = obs.get
    out = {"rows": got["rows"], "names": {}}
    for i, n in enumerate(COMMAND_NAMES):
        if got[f"n{i}"]:
            out["names"][n] = got[f"n{i}"]
    for name in extra:
        out[name] = got[name]
    return out


# ---------------------------------------------------------------------------
# Import paths
# ---------------------------------------------------------------------------


class FlagshipImport:
    """``plans.odm.fused_commands``: the parquet-derived ODM tree to the
    md5-flavor command set, oracle-paired with the DuckDB twin."""

    def __init__(self, ctx: Ctx):
        self.ctx = ctx

    def prepare_checks(self) -> None:
        from lens_sds_batch_spark.oracle import odm_commands_sql

        self.con = duck_connect(self.ctx.data)
        self.twin_sql = odm_commands_sql()
        self.twin_names = dict(
            self.con.execute(
                f"SELECT name, count(*) FROM ({self.twin_sql}) GROUP BY name"
            ).fetchall()
        )

    def default_batch_id(self) -> str:
        from lens_sds_batch_spark.plans.odm import BATCH_CMD_ID

        return BATCH_CMD_ID

    def build(self, batch_id: str):
        from lens_sds_batch_spark.plans.odm import SUB, fused_commands

        # the twin's submitter, so the content digest can match
        return fused_commands(self.ctx.spark, self.ctx.data, batch_id, SUB)

    def sink(self, out, full: bool) -> dict:
        # a full check also sums the content digest in the same pass
        return observed_noop(out, {"digest": digest_sum(out)} if full else None)

    def check(self, out, got: dict, full: bool) -> None:
        expect(
            got["names"] == self.twin_names,
            f"per-command counts {got['names']} != DuckDB twin {self.twin_names}",
        )
        if full:
            # run with the fixed envelope the twin uses, so the whole
            # content must match, ids included; equal multisets make
            # the twin's cmd_id uniqueness the engine's
            n, s = got["rows"], int(got["digest"] or 0)
            tn, ts, td = duck_digest(self.con, self.twin_sql, out.dtypes, distinct_col="cmd_id")
            expect((n, s) == (tn, ts), f"digest ({n}, {s}) != DuckDB twin ({tn}, {ts})")
            expect(td == tn, f"cmd_id not unique: {td} distinct of {tn}")


_META_SCHEMA = "file_oid string, file_type string, batch_cmd_id string, sub string"
XML_SUB = "perfbench-importer"


def _uuid5_wellformed(c):
    from pyspark.sql import functions as F

    return (
        (F.length(c) == 36)
        & (F.substring(c, 15, 1) == "5")
        & F.substring(c, 20, 1).isin(*"89ab")
    )


class XmlImport:
    """The reference's own path: rendered ODM XML files scanned and
    parsed on executors (``sources.odm_xml``), routed, normalised, and
    turned into sha1-flavor (RFC-4122 v5) commands by the generic
    generator; commands and dead letters are both written."""

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.reference: dict | None = None

    def prepare(self) -> None:
        from lens_sds_batch_spark.operators.xml_ingest import render_odm_xml

        out = os.path.join(self.ctx.work, "xml")
        self.glob = render_odm_xml(self.ctx.spark, self.ctx.data, out)
        # the batch-command envelope names the files it carries: one
        # partition directory per file, named after its FileOID
        self.files = sorted(
            d.split("=", 1)[1] for d in os.listdir(out)
            if d.startswith("xml_file=") and d != "xml_file=FXBAD"
        )

    def default_batch_id(self) -> str:
        return "00000000-0000-0000-0000-0000000000ff"

    def build(self, batch_id: str):
        from lens_sds_batch_spark.plans.commands import generate_commands
        from lens_sds_batch_spark.session import local_ckpt, local_df
        from lens_sds_batch_spark.sources.odm_xml import (
            odm_tables_from_xml,
            read_odm_xml,
            route_parsed,
        )

        spark = self.ctx.spark
        # one parse feeds the three routes (the program's own idiom)
        parsed = local_ckpt(read_odm_xml(spark, self.glob), eager=False)
        valid, retryable, fatal = route_parsed(parsed)
        meta = local_df(
            spark, [(f, "transactional", batch_id, XML_SUB) for f in self.files], _META_SCHEMA
        )
        cmds = generate_commands(
            odm_tables_from_xml(valid, meta), batch_id, XML_SUB, flavor="sha1"
        )
        return cmds, retryable.unionByName(fatal)

    def sink(self, out, full: bool) -> dict:
        from pyspark.sql import functions as F

        cmds, dead = out
        bad = ~(
            _uuid5_wellformed(F.col("cmd_id"))
            & _uuid5_wellformed(F.col("parent_id"))
            & (F.col("item_id").isNull() | _uuid5_wellformed(F.col("item_id")))
        )
        got = observed_noop(cmds, {"bad_ids": F.sum(F.when(bad, 1).otherwise(0))})
        got["dead"] = [r["file_path"] for r in dead.select("file_path").collect()]
        return got

    def check(self, out, got: dict, full: bool) -> None:
        try:
            dead = got["dead"]
            expect(
                len(dead) == 1 and "xml_file=FXBAD" in dead[0],
                f"expected exactly the malformed file to dead-letter, got {dead}",
            )
            expect(got["bad_ids"] == 0, f"{got['bad_ids']} commands with non-RFC-4122-v5 ids")
            if full:
                n = got["rows"]
                d = out[0].select("cmd_id").distinct().count()
                expect(n > 0 and d == n, f"cmd_id not unique: {d} distinct of {n}")
                self.reference = got["names"]
            else:
                expect(
                    got["names"] == self.reference,
                    f"per-command counts {got['names']} != first import {self.reference}",
                )
        finally:
            self.ctx.spark.catalog.clearCache()  # generate_commands persists levels


def import_once(ctx: Ctx, imp, batch_id: str, full: bool, op: str | None = None) -> dict:
    """One import, timed from the builder call to the last row sunk,
    then checked (``full``: the whole-content checks as well)."""
    tr = ctx.tracer
    with tr.span("import", op=op) as s_op:
        with tr.span("import.build") as s_build:
            out = imp.build(batch_id)
        with tr.span("import.sink") as s_sink:
            got = imp.sink(out, full)
    imp.check(out, got, full)
    return {
        "span": s_op.id, "op_s": s_op.wall, "build_s": s_build.wall,
        "sink_s": s_sink.wall, "rows": got["rows"],
    }


# ---------------------------------------------------------------------------
# State store: manifest-commit table + maintained aggregate + lookups
# ---------------------------------------------------------------------------

_STATE_SCHEMA = "study_oid string, subject_key string, priority int, version string, is_remove boolean"
_KEY_SCHEMA = "study_oid string, subject_key string"
_AGGS = {"n_subjects": ("count", "*"), "sum_pri": ("sum", "priority")}


class StateStore:
    """Seeded subject-state micro-batches (upserts and removes over a
    fixed key space) committed with last-writer-wins by ``priority``
    (the batch number).  ``live`` is the closed-form LWW of every batch
    so far, the reference the reads are checked against."""

    KEYS = 4000
    BATCH = 512  # one size, so runs differ only in the key mix
    REMOVE_SHARE = 0.25
    PROBES = 32
    BUCKETS = 16

    def __init__(self, ctx: Ctx, name: str = "state"):
        self.ctx = ctx
        self.dir = os.path.join(ctx.work, name)
        self.target = os.path.join(self.dir, "subjects")
        self.agg = os.path.join(self.dir, "per_study")
        self.live: dict[tuple, tuple] = {}
        self.batches = 0

    def prepare(self) -> None:
        shutil.rmtree(self.dir, ignore_errors=True)

    @staticmethod
    def key(k: int) -> tuple:
        return (f"ST{k % 3}", f"SK{k:05d}")

    def next_inputs(self):
        """The next batch and the lookup probe (built before the timed
        region: the program only receives them)."""
        from lens_sds_batch_spark.session import local_df

        rng = self.ctx.rng
        pri = self.batches
        rows = [
            (*self.key(k), pri, f"v{pri}", rng.random() < self.REMOVE_SHARE)
            for k in rng.sample(range(self.KEYS), self.BATCH)
        ]
        for st, sk, p, v, rm in rows:
            if rm:
                self.live.pop((st, sk), None)
            else:
                self.live[(st, sk)] = (p, v)
        probe = rng.sample(sorted(self.live), min(len(self.live), self.PROBES // 2))
        probe += [self.key(k) for k in rng.sample(range(self.KEYS), self.PROBES // 2)]
        spark = self.ctx.spark
        return (
            local_df(spark, rows, _STATE_SCHEMA),
            local_df(spark, sorted(set(probe)), _KEY_SCHEMA),
            set(probe),
        )

    def commit(self, batch) -> dict:
        from pyspark.sql import functions as F

        from lens_sds_batch_spark.plans.merge import merge_into

        first = self.batches == 0
        self.batches += 1
        return merge_into(
            self.ctx.spark, self.target, batch,
            keys=["study_oid", "subject_key"],
            order_cols=["priority"],
            is_delete=F.col("is_remove"),
            num_buckets=self.BUCKETS if first else None,
            protocol="manifest" if first else None,
        )

    def refresh(self) -> dict:
        from lens_sds_batch_spark.plans.ivm import refresh_aggregate

        return refresh_aggregate(
            self.ctx.spark, self.target, self.agg, group_keys=["study_oid"], aggs=_AGGS
        )

    def lookup(self, probe) -> list:
        from lens_sds_batch_spark.plans.merge import lookup_merged_keys

        return lookup_merged_keys(self.ctx.spark, self.target, probe).collect()

    def _aggregate(self) -> dict:
        from lens_sds_batch_spark.plans.ivm import read_aggregate

        return {
            r["study_oid"]: [r["n_subjects"], r["sum_pri"]]
            for r in read_aggregate(self.ctx.spark, self.agg).collect()
        }

    def check(self, looked_up: list, probe_keys: set) -> None:
        """Per cycle: the lookup and the maintained aggregate against
        the closed-form LWW (the full resolver read is checked once,
        after maintenance, by :meth:`check_final`)."""
        found = {(r["study_oid"], r["subject_key"]): (r["priority"], r["version"]) for r in looked_up}
        want = {k: v for k, v in self.live.items() if k in probe_keys}
        expect(found == want, f"lookup returned {len(found)} rows, expected {len(want)}")
        agg, want_agg = self._aggregate(), per_study(self.live)
        expect(agg == want_agg, f"IVM aggregate {agg} != closed-form groupBy {want_agg}")

    def maintain(self) -> dict:
        from lens_sds_batch_spark.plans.merge import maintain_merged_table

        return maintain_merged_table(self.ctx.spark, self.target, grace_sec=0.0)

    def check_final(self) -> None:
        """The resolver read equals the closed-form LWW over every batch,
        and the maintained aggregate equals a groupBy of that read."""
        from lens_sds_batch_spark.plans.merge import read_merged_table

        got = {
            (r["study_oid"], r["subject_key"]): (r["priority"], r["version"])
            for r in read_merged_table(self.ctx.spark, self.target).collect()
        }
        expect(got == self.live, f"resolver read ({len(got)} rows) != closed-form LWW ({len(self.live)} rows)")
        agg = self._aggregate()
        expect(agg == per_study(got), f"IVM aggregate {agg} != groupBy of the resolver read")


def per_study(state: dict) -> dict:
    """[count, sum(priority)] per study of a {key: (priority, version)} state."""
    out: dict[str, list] = {}
    for (st, _), (p, _) in state.items():
        acc = out.setdefault(st, [0, 0])
        acc[0] += 1
        acc[1] += p
    return out


def tree_files(path: str) -> set:
    return {os.path.join(d, n) for d, _, names in os.walk(path) for n in names}


def state_cycle(ctx: Ctx, store: StateStore, op: str | None = None) -> dict:
    """Commit, refresh, lookup, each timed, then checked."""
    tr = ctx.tracer
    batch, probe, probe_keys = store.next_inputs()
    before = tree_files(store.target) if ctx.trace else None
    with tr.span("state", op=op) as s_op:
        with tr.span("commit") as s_commit:
            store.commit(batch)
        with tr.span("refresh") as s_refresh:
            refreshed = store.refresh()
        with tr.span("lookup") as s_lookup:
            looked_up = store.lookup(probe)
    rec = {
        "span": s_op.id, "op_s": s_op.wall, "rows": StateStore.BATCH,
        "commit_s": s_commit.wall, "refresh_s": s_refresh.wall, "lookup_s": s_lookup.wall,
        "groups_changed": refreshed["groups_changed"],
    }
    if before is not None:
        new = tree_files(store.target) - before
        rec["commit_files"] = len(new)
        rec["commit_mb"] = sum(os.path.getsize(p) for p in new) / (1024.0 * 1024.0)
    store.check(looked_up, probe_keys)
    return rec


def maintenance(ctx: Ctx, store: StateStore, op: str | None = None) -> dict:
    """One maintenance window, then the full resolver check."""
    on_disk = sum(os.path.getsize(p) for p in tree_files(store.target))
    with ctx.tracer.span("maintain", op=op) as s:
        res = store.maintain()
    store.check_final()
    live = (res.get("rebucket") or {}).get("live_bytes")
    return {"maintain_s": s.wall, "space_amp": on_disk / live if live else None}


# ---------------------------------------------------------------------------
# Workloads
# ---------------------------------------------------------------------------


class OdmImport:
    """Flagship imports.  The first uses the twin's envelope and gets
    the whole-content check; every import gets the per-command counts
    check."""

    SETTLE = 6
    OP_S = 1.75  # one settled import, local[4] on a 4-core host

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.imp = FlagshipImport(ctx)
        self.done = 0

    def prepare(self) -> None:
        pass  # the inputs are the parquet tables themselves

    def prepare_checks(self) -> None:
        self.imp.prepare_checks()

    def op(self, warm: bool) -> dict:
        first = self.done == 0
        self.done += 1
        bid = self.imp.default_batch_id() if first else self.ctx.batch_id()
        return import_once(self.ctx, self.imp, bid, full=first, op="warmup" if warm else None)

    finish = None


class StateCommit:
    """State cycles on one table, then one maintenance window."""

    SETTLE = 4
    OP_S = 2.4  # one settled cycle, local[4] on a 4-core host

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.store = StateStore(ctx)

    def prepare(self) -> None:
        self.store.prepare()

    def prepare_checks(self) -> None:
        pass  # checked against the closed-form state the store keeps

    def op(self, warm: bool) -> dict:
        return state_cycle(self.ctx, self.store, op="warmup" if warm else None)

    def finish(self) -> None:
        maintenance(self.ctx, self.store, op="maintain")


WORKLOADS = {"odm_import": OdmImport, "state_commit": StateCommit}


def run(ctx: Ctx, wl) -> dict:
    """Set up (``SETUPS`` sessions), prepare, warm up, settle, run the
    measured operations, then the workload's finishing step.  A failed
    operation is counted and left out of the timings; the loop goes
    on."""
    marks = [("start", time.perf_counter())]

    def mark(name: str) -> None:
        marks.append((name, time.perf_counter()))

    sessions = [ctx.new_session() for _ in range(SETUPS)]
    mark("sessions")
    wl.prepare()
    mark("prepare")
    wl.prepare_checks()
    mark("prepare_checks")
    warm: list[dict] = []
    ops: list[dict] = []
    for k in range(WARMUPS):
        ok = ctx.ledger.run(f"warm-up {k + 1}", lambda: warm.append(wl.op(warm=True)))
        if not ok and k == 0:
            # nothing after a failing first operation can be measured
            raise RuntimeError(ctx.ledger.failures[-1])
    mark("warm-up")
    for k in range(wl.SETTLE):
        ctx.ledger.run(f"settling {k + 1}", lambda: wl.op(warm=True))
    mark("settle")
    for i in range(measured_ops(ctx.seconds, wl.OP_S)):
        ctx.ledger.run(f"operation {i + 1}", lambda: ops.append(wl.op(warm=False)))
    mark("measured")
    if wl.finish is not None:
        ctx.ledger.run("finish", wl.finish)
    mark("finish")
    timeline = {b[0]: b[1] - a[1] for a, b in zip(marks, marks[1:])}
    warm_s = sum(o["op_s"] for o in warm)
    return {
        "sessions": sessions,
        "warm_s": warm_s,
        "ops": ops,
        "timeline": timeline,
        "setup_s": statistics.median(sessions) + timeline["prepare"] + warm_s,
    }
