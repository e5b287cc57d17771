"""Expected answers, computed with DuckDB over the same parquet files the
engine reads. Nothing here shares code with the engine except the
registry's own oracle SQL (``entry_queries.resolve_sql``)."""

from __future__ import annotations

import hashlib
import math

import duckdb

from datagen import TABLES


class Twin:
    """A DuckDB connection with one view per fixture table; the
    ``documents`` view is optionally restricted by ``docs_where``, a SQL
    predicate (the same one the engine-side corpus is filtered by)."""

    def __init__(self, data_dir: str, docs_where: str | None = None):
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 4")
        for t in TABLES:
            where = ""
            if t == "documents" and docs_where:
                where = f" WHERE {docs_where}"
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                             f"read_parquet('{data_dir}/{t}.parquet'){where}")

    def rows(self, sql: str, *params) -> list[tuple]:
        return self.con.execute(sql, list(params)).fetchall()

    def one(self, sql: str, *params):
        r = self.con.execute(sql, list(params)).fetchone()
        return r[0] if r else None

    def frame_hash(self, sql: str) -> tuple[int, str]:
        return frame_hash(self.con.execute(sql).df())

    def fingerprint(self, sql: str, spec) -> dict:
        """``spark_fingerprint(spec)`` of the rows of ``sql``."""
        cols = ["count(*)"]
        for c, how in spec:
            q = '"%s"' % c.replace('"', '""')
            cols.append({"sum": f"sum(CAST({q} AS DOUBLE))",
                         "len": f"CAST(sum(length({q})) AS DOUBLE)",
                         "count": f"CAST(count({q}) AS DOUBLE)"}[how])
        row = self.con.execute(f"SELECT {', '.join(cols)} FROM ({sql})").fetchone()
        return {"n": row[0], **{f"c{i}": v for i, v in enumerate(row[1:])}}

    def close(self) -> None:
        self.con.close()


def _canon(v) -> str:
    # NULL, NaN and the empty string render alike: the two engines
    # disagree on which of them an empty string-join yields
    if v is None or v == "" or (isinstance(v, float) and math.isnan(v)):
        return "∅"
    if isinstance(v, float):
        # an integral float renders like the int it may be on the other
        # side (pandas widens int columns holding NULLs to float)
        if v.is_integer() and abs(v) < 2 ** 53:
            return str(int(v))
        return f"{v:.6g}"
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return str(v)


def frame_hash(df) -> tuple[int, str]:
    """(row count, order-independent hash) of a pandas frame: columns
    sorted by name, each row rendered canonically, rows sorted."""
    cols = sorted(df.columns)
    lines = sorted("|".join(_canon(v) for v in row)
                   for row in df[cols].itertuples(index=False, name=None))
    h = hashlib.sha256("\n".join(lines).encode()).hexdigest()[:16]
    return len(lines), h


NUMERIC = ("tinyint", "smallint", "int", "bigint", "float", "double")


def fingerprint_spec(dtypes) -> list[tuple[str, str]]:
    """How each output column enters a frame's content fingerprint:
    numeric columns by their sum, strings by their total length, the
    rest by their count of non-NULL values. Both engines compute it,
    so a measured Spark output is checked against DuckDB without being
    collected."""
    spec = []
    for c, t in dtypes:
        if t in NUMERIC or t.startswith("decimal"):
            spec.append((c, "sum"))
        elif t == "string":
            spec.append((c, "len"))
        else:
            spec.append((c, "count"))
    return spec


def spark_fingerprint(spec) -> list:
    """The fingerprint as Spark aggregates (for ``DataFrame.observe``)."""
    from pyspark.sql import functions as F

    aggs = [F.count(F.lit(1)).alias("n")]
    for i, (c, how) in enumerate(spec):
        col = F.col(f"`{c}`")
        if how == "sum":
            e = F.sum(col.cast("double"))
        elif how == "len":
            e = F.sum(F.length(col)).cast("double")
        else:
            e = F.count(col).cast("double")
        aggs.append(e.alias(f"c{i}"))
    return aggs


def same_fingerprint(a: dict, b: dict) -> bool:
    if a.keys() != b.keys():
        return False
    for k in a:
        x, y = a[k], b[k]
        if x is None or y is None:
            if x is not y:
                return False
        elif not (math.isclose(x, y, rel_tol=1e-9, abs_tol=1e-6)
                  or (math.isnan(x) and math.isnan(y))):
            return False
    return True


def close(a, b, rel: float = 1e-6) -> bool:
    return a is not None and b is not None and math.isclose(
        float(a), float(b), rel_tol=rel, abs_tol=1e-6)
