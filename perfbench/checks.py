"""Output checks, run outside the timed regions.

A check returns nothing when the output is right and raises
:class:`Wrong` (or any exception) when it is not.  :class:`Ledger`
counts every checked operation and every failure without stopping the
run, so a wrong output lands in ``failed`` instead of aborting.
"""

from __future__ import annotations

import traceback

# Every command name the generators can emit: verb x entity.
VERBS = ("insert", "update", "upsert", "remove")
ENTITIES = ("subject", "study-event", "form", "item-group", "item")
COMMAND_NAMES = tuple(f"odm-import/{v}-{e}" for v in VERBS for e in ENTITIES)


class Wrong(AssertionError):
    """An output that does not match what it was checked against."""


def expect(cond: bool, msg: str) -> None:
    if not cond:
        raise Wrong(msg)


class Ledger:
    """Counts attempted and failed operations; keeps the first lines of
    each failure for the run's stamp."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []

    def run(self, label: str, fn) -> bool:
        """Run one operation together with its checks.  Any exception
        (the program raising, or a check raising :class:`Wrong`) marks
        the operation failed; the run goes on."""
        self.attempted += 1
        try:
            fn()
            return True
        except Exception as e:  # noqa: BLE001 - every failure is counted, never fatal
            self.failed += 1
            detail = traceback.format_exception_only(type(e), e)[-1].strip()
            self.failures.append(f"{label}: {detail[:400]}")
            return False


# ---------------------------------------------------------------------------
# Engine-side multiset digest: count(*) plus the sum of a 48-bit integer
# taken from each row's md5 over its canonicalised, name-sorted columns.
# The same method as tools/sf1_divergence.py, restated here so that the
# benchmark does not import a tool script.
# ---------------------------------------------------------------------------

_SEP = "\x1f"
_NULL = "<NULL>"
_HEXPOS = "0123456789abcdef"
_BIG = 9e12
_INTS = ("tinyint", "smallint", "int", "bigint", "boolean")


def _canon_spark(col, t):
    from pyspark.sql import functions as F

    if t == "string":
        e = col
    elif t in _INTS:
        e = col.cast("string")
    elif t in ("float", "double"):
        d = col.cast("double")
        e = (
            F.when(F.isnan(d), F.lit(None).cast("string"))
            .when(d == float("inf"), F.lit("<INF>"))
            .when(d == float("-inf"), F.lit("<-INF>"))
            .when(F.abs(d) >= _BIG, F.format_string("%.3e", d))
            .otherwise(F.floor(d * 1e6).cast("bigint").cast("string"))
        )
    else:
        raise TypeError(f"digest: unsupported dtype {t}")
    return F.coalesce(e, F.lit(_NULL))


def _canon_duck(c, t):
    q = f'"{c}"'
    if t == "string":
        e = q
    elif t in _INTS:
        e = f"CAST({q} AS VARCHAR)"
    elif t in ("float", "double"):
        d = f"CAST({q} AS DOUBLE)"
        e = (
            f"CASE WHEN isnan({d}) THEN NULL"
            f" WHEN {d} = 'infinity'::DOUBLE THEN '<INF>'"
            f" WHEN {d} = '-infinity'::DOUBLE THEN '<-INF>'"
            f" WHEN abs({d}) >= {_BIG} THEN printf('%.3e', {d})"
            f" ELSE CAST(CAST(floor({d} * 1e6) AS BIGINT) AS VARCHAR) END"
        )
    else:
        raise TypeError(f"digest: unsupported dtype {t}")
    return f"coalesce({e}, '{_NULL}')"


def digestible(sdf) -> bool:
    return all(t in ("string", "float", "double", *_INTS) for _, t in sdf.dtypes)


def digest_sum(sdf):
    """Aggregate expression: the sum of each row's 48-bit md5 prefix."""
    from pyspark.sql import functions as F

    types = dict(sdf.dtypes)
    payload = F.concat_ws(_SEP, *[_canon_spark(F.col(c), types[c]) for c in sorted(sdf.columns)])
    return F.sum(F.conv(F.substring(F.md5(payload), 1, 12), 16, 10).cast("decimal(38,0)"))


def spark_digest(sdf) -> tuple:
    """(rows, md5-sum) of ``sdf`` in one pass."""
    from pyspark.sql import functions as F

    row = sdf.agg(F.count(F.lit(1)).alias("n"), digest_sum(sdf).alias("s")).collect()[0]
    return row["n"], int(row["s"] or 0)


def duck_digest(con, sql: str, dtypes, distinct_col: str | None = None) -> tuple:
    """(rows, md5-sum[, distinct count of ``distinct_col``]) of ``sql``."""
    types = dict(dtypes)
    payload = f" || '{_SEP}' || ".join(_canon_duck(c, types[c]) for c in sorted(types))
    nib = " + ".join(
        f"(strpos('{_HEXPOS}', substr(h, {i}, 1)) - 1) * {16 ** (12 - i)}::HUGEINT"
        for i in range(1, 13)
    )
    distinct = f", count(DISTINCT \"{distinct_col}\")" if distinct_col else ""
    keep = f", \"{distinct_col}\"" if distinct_col else ""
    row = con.execute(
        f"SELECT count(*), sum({nib}){distinct} FROM (SELECT md5({payload}) AS h{keep} FROM ({sql}))"
    ).fetchone()
    return (row[0], int(row[1] or 0)) + tuple(row[2:])


def duck_connect(data_dir: str):
    import os

    import duckdb

    con = duckdb.connect()
    for name in sorted(os.listdir(data_dir)):
        if name.endswith(".parquet"):
            path = os.path.join(data_dir, name)
            con.execute(f"CREATE VIEW {name[:-8]} AS SELECT * FROM '{path}'")
    return con
