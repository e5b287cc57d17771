"""The Graph data model: one DataFrame per predicate.

This mirrors dgraph's tablet-per-predicate sharding (paper/dgraph.tex:104-113,
worker/groups.go) in columnar form:

  - scalar predicate P -> DataFrame ``P(subject: long, value: T[, lang: string])``
  - uid predicate P    -> DataFrame ``P(subject: long, object: long[, facets: struct])``

List predicates are multiple rows per subject (relational form of
posting lists, posting/list.go:70-78). A posting list ``(P, uid) -> sorted
objects`` is never materialized — a traversal level is just a join
(worker/task.go:1012 processTask == ``frontier JOIN P ON subject``).

Edge facets (types/facets/facet_types.go) are a typed struct column
``facets`` on the edge DataFrame, so facet filters/sorts are plain column
expressions that Catalyst can push down.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dgraph_spark.schema import Predicate, SchemaRegistry

SUBJECT = "subject"
OBJECT = "object"
VALUE = "value"
LANG = "lang"
FACETS = "facets"
TYPE_PRED = "dgraph.type"


@dataclass
class Graph:
    """A queryable graph: per-predicate DataFrames + schema registry.

    ``wide``/``pred_home`` are an optional physical optimization: when a
    set of scalar predicates comes from one columnar source (a "node
    table"), the planner fuses their filters/projections into a single
    scan+join instead of one per predicate (the Spark analogue of
    dgraph's tablet locality — predicates of one type living together).
    Purely an access-path hint; per-predicate semantics are unchanged.
    """

    spark: SparkSession
    preds: dict[str, DataFrame] = field(default_factory=dict)
    schema: SchemaRegistry = field(default_factory=SchemaRegistry)
    # type/home name -> wide DataFrame with SUBJECT + one column per pred
    wide: dict[str, DataFrame] = field(default_factory=dict)
    # pred name -> (home name, column name)
    pred_home: dict[str, tuple[str, str]] = field(default_factory=dict)
    # node type -> (lo, hi) uid range when the loader assigns uids in
    # type-tagged ranges: type(T) filters become free range predicates
    # (no join, no scan — the uid IS the type tag)
    type_uid_ranges: dict[str, tuple[int, int]] = field(default_factory=dict)
    # edge pred -> (src_home | None, dst_home | None): which side's scalar
    # predicates ride IN-ROW on the edge DataFrame (because the edge was
    # derived from that side's node table). Lets the planner read child
    # attributes straight off the traversal join instead of re-scanning +
    # re-joining the node table.
    edge_homes: dict[str, tuple[str | None, str | None]] = field(default_factory=dict)
    # home -> (raw key column name, uid base) when the home's uids are
    # affine in a physical column (uid = base + key): uid filters rewrite
    # onto that column so parquet row-group stats prune the scan
    wide_uid_key: dict[str, tuple[str, int]] = field(default_factory=dict)

    def home_of(self, pred: str) -> tuple[str, str] | None:
        return self.pred_home.get(pred)

    def edge_side_homes(self, pred: str, reverse: bool) -> tuple[str | None, str | None]:
        src_h, dst_h = self.edge_homes.get(pred, (None, None))
        return (dst_h, src_h) if reverse else (src_h, dst_h)

    # ------------------------------------------------------------------ access
    def pred(self, name: str) -> DataFrame:
        if name not in self.preds:
            raise KeyError(f"unknown predicate: {name!r}")
        return self.preds[name]

    def has_pred(self, name: str) -> bool:
        return name in self.preds

    def pred_names(self) -> Iterator[str]:
        return iter(self.preds)

    def edge(self, name: str, reverse: bool = False) -> DataFrame:
        """Edge table for a uid predicate; ``reverse=True`` gives the
        ``~pred`` traversal (worker/task.go:1085-1087) by swapping the
        subject/object roles — no reverse index is materialized because a
        join works equally well in either direction."""
        df = self.pred(name)
        if not self.schema.get(name).is_uid:
            raise TypeError(f"predicate {name!r} is not a uid predicate")
        if reverse:
            cols = [F.col(OBJECT).alias(SUBJECT), F.col(SUBJECT).alias(OBJECT)]
            # keep facets and any in-row attribute columns through the swap
            cols += [F.col(c) for c in df.columns if c not in (SUBJECT, OBJECT)]
            df = df.select(*cols)
        return df

    def scalar(self, name: str) -> DataFrame:
        df = self.pred(name)
        if self.schema.get(name).is_uid:
            raise TypeError(f"predicate {name!r} is a uid predicate")
        return df

    def node_types(self) -> DataFrame:
        """DataFrame (subject, value=type_name) of `dgraph.type`."""
        return self.pred(TYPE_PRED)

    def uids_of_type(self, type_name: str) -> DataFrame:
        if type_name in self.wide:
            # wide node tables have one row per node: no distinct needed
            # (saves a shuffle on the hottest root function)
            return self.wide[type_name].select(SUBJECT)
        return (
            self.node_types()
            .where(F.col(VALUE) == type_name)
            .select(SUBJECT)
            .distinct()
        )

    # ------------------------------------------------------------- mutation-ish
    def with_pred(self, name: str, df: DataFrame, meta: Predicate | None = None) -> "Graph":
        """A new version with ``name`` replaced. It shares this version's
        schema registry: writers copy the registry once per new version
        (mutations._own_schema) before touching it."""
        preds = dict(self.preds)
        preds[name] = df
        schema = self.schema
        if meta is not None:
            schema.add(meta)
        return Graph(spark=self.spark, preds=preds, schema=schema)

    # ------------------------------------------------------------ long format
    def to_triples(self) -> DataFrame:
        """Single long triples DataFrame ``(subject, predicate, object_uid,
        value_str, lang, facets)`` — the export/interchange format
        (worker/export.go). Typed values are serialized to strings; uid
        edges keep object_uid; @lang tags and facets ride along so a
        warehouse round-trip loses nothing."""
        _null_facets = F.lit(None).cast("map<string,string>")

        def _opt(df, col, null):
            return F.col(col) if col in df.columns else null

        parts = []
        for name, df in self.preds.items():
            if self.schema.get(name).is_uid:
                part = df.select(
                    F.col(SUBJECT),
                    F.lit(name).alias("predicate"),
                    F.col(OBJECT).alias("object_uid"),
                    F.lit(None).cast("string").alias("value_str"),
                    F.lit(None).cast("string").alias("lang"),
                    _opt(df, "facets", _null_facets).alias("facets"),
                )
            else:
                part = df.select(
                    F.col(SUBJECT),
                    F.lit(name).alias("predicate"),
                    F.lit(None).cast("long").alias("object_uid"),
                    F.col(VALUE).cast("string").alias("value_str"),
                    _opt(df, "lang", F.lit(None).cast("string")).alias("lang"),
                    _opt(df, "facets", _null_facets).alias("facets"),
                )
            parts.append(part)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    # ------------------------------------------------------------- persistence
    def write_parquet(self, path: str, mode: str = "overwrite") -> None:
        """Persist as one parquet dataset per predicate + schema JSON.

        At cluster scale each predicate directory is independently
        partitioned/bucketed; predicate pruning == dgraph tablet routing.
        """
        for name, df in self.preds.items():
            safe = name.replace("/", "_").replace(".", "_")
            df.write.mode(mode).parquet(f"{path}/preds/{safe}")
        meta = self.spark.createDataFrame(
            [(self.schema.to_json(), "".join(self.preds))],
            "schema_json string, pred_names string",
        )
        meta.coalesce(1).write.mode(mode).json(f"{path}/_graph_meta")

    @classmethod
    def read_parquet(cls, spark: SparkSession, path: str) -> "Graph":
        meta = spark.read.json(f"{path}/_graph_meta").collect()[0]
        schema = SchemaRegistry.from_json(meta["schema_json"])
        names = meta["pred_names"].split("")
        preds = {}
        for name in names:
            safe = name.replace("/", "_").replace(".", "_")
            preds[name] = spark.read.parquet(f"{path}/preds/{safe}")
        return cls(spark=spark, preds=preds, schema=schema)


# rows under which iterative driver loops run with the reduced conf
SMALL_LOOP_ROW_CAP = 2_000_000


class SmallLoopConf:
    """Scoped Spark conf for driver-loop rounds over SMALL frontiers:
    iterative algorithms (shortest, @recurse, connected components) pay
    a per-round planning/scheduling floor, and with a tiny frontier the
    default shuffle width and AQE re-planning are pure overhead (~30%
    of round wall time at sf0.1). Partitions shrink relative to the
    session setting (never below 8) so the reduction stays proportional
    on a real cluster, and everything is restored when the frontier
    outgrows the small regime or the loop ends — at 100 TB a frontier
    past SMALL_LOOP_ROW_CAP runs under the user's full conf and AQE
    skew handling.

    CONCURRENCY: `spark.conf` is SESSION-global, so while any loop is
    in the small regime, OTHER queries planned concurrently on the
    same SparkSession also see the reduced partitions / disabled AQE.
    They stay correct, just potentially narrower than tuned; a
    multi-tenant deployment should give each query thread its own
    `spark.newSession()` (per-session SQLConf). Concurrent LOOPS on one
    session are safe: the regime is refcounted process-wide, so the
    original conf is saved exactly once and restored only when the LAST
    loop leaves — two interleaved per-instance save/restores would
    otherwise capture the reduced conf as "original" and leave the
    session quartered.
    One consequence of refcounting: while ANY loop is still small, a
    sibling loop whose frontier outgrew the cap keeps planning under
    the reduced conf (correct, but without AQE skew handling) — the
    same single-session trade-off as above, resolved the same way
    (per-query sessions) when it matters."""

    # process-wide regime state: {session_id: [refcount, saved_confs]}
    _STATE: dict = {}
    # created at class definition time: a lazy unsynchronized check
    # could mint two different locks under concurrent construction
    _LOCK = __import__("threading").Lock()

    def __init__(self, spark):
        self.spark = spark
        self.active = False

    def _key(self):
        return id(self.spark)

    def enter(self):
        if self.active:
            return
        with SmallLoopConf._LOCK:
            st = SmallLoopConf._STATE.get(self._key())
            if st is None:
                conf = self.spark.conf
                saved = {
                    "spark.sql.shuffle.partitions":
                        conf.get("spark.sql.shuffle.partitions"),
                    "spark.sql.adaptive.enabled":
                        conf.get("spark.sql.adaptive.enabled"),
                }
                parts = max(8, int(saved["spark.sql.shuffle.partitions"])
                            // 4)
                conf.set("spark.sql.shuffle.partitions", str(parts))
                conf.set("spark.sql.adaptive.enabled", "false")
                SmallLoopConf._STATE[self._key()] = [1, saved]
            else:
                st[0] += 1
            self.active = True

    def exit(self):
        if not self.active:
            return
        with SmallLoopConf._LOCK:
            st = SmallLoopConf._STATE.get(self._key())
            if st is not None:
                st[0] -= 1
                if st[0] <= 0:
                    for k, v in st[1].items():
                        self.spark.conf.set(k, v)
                    del SmallLoopConf._STATE[self._key()]
            self.active = False

    def adapt(self, frontier_rows: int):
        """Enter/leave the small regime as the frontier grows/shrinks."""
        if frontier_rows <= SMALL_LOOP_ROW_CAP:
            self.enter()
        else:
            self.exit()
