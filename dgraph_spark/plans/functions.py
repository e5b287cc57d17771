"""Root-function / filter-function compilation: FuncCall -> uid DataFrame.

The reference evaluates root functions against indexes and filter
functions against candidate uid sets (worker/task.go:281-297 asymmetry).
In Spark both collapse to the same thing: a (pushed-down) scan producing
a uid set, optionally semi-joined with the candidate frontier — Catalyst
replaces every index with predicate pushdown + column pruning
(SURVEY.md §4). Function taxonomy: worker/task.go:245-279.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from dgraph_spark.dql.ast import FilterTree, FuncCall
from dgraph_spark.functions import tokenizers as tok
from dgraph_spark.model import OBJECT, SUBJECT, VALUE, Graph

_RFC3339_RE = __import__("re").compile(
    r"^(\d{4})-(\d{2})-(\d{2})"
    r"(?:[T ](\d{2}):(\d{2})(?::(\d{2}))?(?:\.(\d+))?)?"
    r"(Z|[+-]\d{2}:\d{2})?$"
)


def parse_rfc3339(s: str):
    """RFC3339 -> naive-UTC datetime, tolerating offsets beyond
    java.time's ±18:00 (Go time.Parse accepts any ±HH:MM). None when the
    string isn't a full date (partial granularity handled elsewhere)."""
    import datetime as _dt

    m = _RFC3339_RE.match(s)
    if not m:
        return None
    y, mo, d, hh, mi, ss, frac, off = m.groups()
    us = int((frac or "0").ljust(6, "0")[:6]) if frac else 0
    try:
        dt = _dt.datetime(int(y), int(mo), int(d), int(hh or 0), int(mi or 0),
                          int(ss or 0), us)
    except ValueError:
        return None
    if off and off != "Z":
        sign = -1 if off[0] == "-" else 1
        dt -= sign * _dt.timedelta(hours=int(off[1:3]), minutes=int(off[4:6]))
    return dt


_COMPARE = {"eq", "le", "lt", "ge", "gt"}


def _uid_literal(v) -> int | None:
    """Parse one uid(...) argument as a literal uid, else None (a var)."""
    if isinstance(v, int):
        return v
    if isinstance(v, str) and v.startswith("0x"):
        return int(v, 16)
    if isinstance(v, str) and v.isdigit():
        return int(v)
    return None


def _isin(col: str, values: list[int]) -> Column:
    """`col IN (values)`, parsed by Spark in one call: Column.isin makes
    a py4j round trip per literal (0.5 s of driver time at 1000 uids)."""
    if not values:
        return F.lit(False)
    return F.expr(f"`{col}` IN ({', '.join(map(str, values))})")


def uid_frame(spark, uids: list[int]) -> DataFrame:
    """A literal (subject) relation: a VALUES table, planned as a local
    relation (createDataFrame over a list builds a Python RDD instead,
    measured seconds slower to join), which collects with no Spark job."""
    if not uids:
        return spark.range(0).select(F.col("id").alias(SUBJECT))
    vals = ", ".join(f"({u}L)" for u in uids)
    return spark.sql(f"SELECT * FROM VALUES {vals} AS t({SUBJECT})")


_STRSEARCH = {"anyofterms", "allofterms", "anyoftext", "alloftext",
              "regexp", "match", "ngram"}


class FuncCompiler:
    """Compiles FuncCalls into uid DataFrames, resolving variables from
    ``env`` (uid vars -> DataFrame[subject], value vars ->
    DataFrame[subject, value]). A uid var bound on the driver (``uids``:
    var -> uid list) reads in uid(...) as its literal uids."""

    def __init__(self, graph: Graph, env: dict | None = None,
                 uids: dict | None = None):
        self.g = graph
        self.env = env if env is not None else {}
        self.uids = uids if uids is not None else {}

    def uid_list(self, f: FuncCall) -> list[int] | None:
        """All uid(...) args as uids: the literals and the lists of vars
        bound on the driver; None if any arg is a lazy var."""
        out: list[int] = []
        for a in f.args:
            u = _uid_literal(a.value)
            if u is not None:
                out.append(u)
            elif str(a.value) in self.uids:
                out.extend(self.uids[str(a.value)])
            else:
                return None
        return out

    # ------------------------------------------------------------- helpers
    def _cmp_side(self, pred, col, lits):
        """(column, literal columns) for a typed comparison; bigfloat
        preds compare via the order-preserving 200-bit key
        (functions/bigfloat.py) — lexical strings would order wrong and
        equal lexemes are not the only equal values ("2.1" == "2.10")."""
        if (pred and self.g.schema.has(pred)
                and self.g.schema.get(pred).typ == "bigfloat"):
            from dgraph_spark.functions.bigfloat import bigfloat_key, key_py

            return bigfloat_key(col), [F.lit(key_py(str(x))) for x in lits]
        return col, [self._typed_lit(pred, x) for x in lits]

    def _typed_lit(self, pred: str, v: object) -> Column:
        typ = self.g.schema.get(pred).typ
        if typ == "datetime":
            dt = parse_rfc3339(str(v))
            if dt is not None:
                return F.lit(dt)
            return F.to_timestamp(F.lit(v))
        return F.lit(v)

    def _empty_uids(self) -> DataFrame:
        return self.g.spark.createDataFrame([], f"{SUBJECT} long")

    def _scalar(self, pred: str, lang: str | None = None) -> DataFrame:
        if not self.g.has_pred(pred):
            # absent predicate: empty result, mirroring dgraph's behavior
            # for data-less predicates (no error)
            return self.g.spark.createDataFrame([], f"{SUBJECT} long, {VALUE} string")
        df = self.g.scalar(pred)
        if "lang" in df.columns:
            if lang == ".":
                pass  # '@.': any language (worker/task.go langForFunc)
            elif lang:
                df = df.where(F.col("lang") == lang)
            else:
                # bare read of a @lang predicate: untagged values only
                df = df.where(F.col("lang").isNull())
        return df

    def _uid_var(self, name: str) -> DataFrame:
        v = self.env.get(name)
        if v is None:
            raise KeyError(f"undefined uid variable {name!r}")
        if "_frank" in v.columns:
            # intrinsic order (e.g. shortest-path node sequence) rides
            # along and becomes the default sort at the consuming root
            return v.select(SUBJECT, "_frank").distinct()
        return v.select(SUBJECT).distinct()

    def _val_var(self, name: str) -> DataFrame:
        v = self.env.get(name)
        if v is None:
            raise KeyError(f"undefined value variable {name!r}")
        return v

    # --------------------------------------------------------------- entry
    def root(self, f: FuncCall) -> DataFrame:
        """Evaluate at root: no candidate set — full (pushed-down) scan.
        Returns DataFrame[subject] (distinct)."""
        return self._eval(f, candidates=None)

    def filter(self, tree: FilterTree, candidates: DataFrame) -> DataFrame:
        """Apply a FilterTree to a candidate uid set
        (query/query.go:2310-2372: AND=intersect, OR=merge, NOT=difference;
        algo/uidlist.go set algebra -> joins here).

        Optimization: maximal subtrees whose leaves are all value
        conditions on ONE wide node table compile to a single fused scan
        (one semi-join total instead of one per function)."""
        fused = self.fuse_tree(tree)
        if fused is not None:
            home, cond = fused
            matched = self.g.wide[home].where(cond).select(SUBJECT)
            return candidates.join(matched, SUBJECT, "left_semi")
        if tree.op == "func":
            f = tree.func
            if f.name.lower() == "type":
                rng = self.g.type_uid_ranges.get(str(f.args[0].value))
                if rng is not None:
                    # tagged uid ranges make type() a free range predicate
                    return candidates.where(
                        (F.col(SUBJECT) >= rng[0]) & (F.col(SUBJECT) < rng[1])
                    )
            if f.name.lower() == "uid" and (uids := self.uid_list(f)) is not None:
                return candidates.where(_isin(SUBJECT, uids))
            return self._eval(tree.func, candidates)
        if tree.op == "and":
            out = candidates
            for child in tree.children:
                out = self.filter(child, out)
            return out
        if tree.op == "or":
            parts = [self.filter(child, candidates) for child in tree.children]
            out = parts[0]
            for p in parts[1:]:
                out = out.unionByName(p)
            return out.distinct()
        if tree.op == "not":
            assert len(tree.children) == 1
            matched = self.filter(tree.children[0], candidates)
            return candidates.join(matched, SUBJECT, "left_anti")
        raise ValueError(f"bad filter op {tree.op!r}")

    # ------------------------------------------------------ wide-table fusion
    def value_condition(self, f: FuncCall) -> tuple[str, Column] | None:
        """(home, boolean Column over the wide table) for simple value
        functions, or None if not fusible."""
        name = f.name.lower()
        if any(a.is_count or a.is_val_var or a.is_len for a in f.args):
            return None
        if f.pred_lang:
            # lang-tagged reads need the long-form value rows (per-lang
            # row filter); wide tables hold the untagged value only
            return None
        if name == "type":
            tname = str(f.args[0].value)
            if tname in self.g.wide:
                return tname, F.lit(True)
            return None
        if name == "uid":
            # uid(literals...) whose uids all fall in ONE type-tagged uid
            # range -> a plain subject IN (...) filter on that type's wide
            # scan: one stage, no Python-RDD literal frame, no broadcast
            # of the node table. (Lazy var args / mixed types: not fusible.)
            lits = self.uid_list(f)
            if not lits:
                return None
            homes = set()
            for u in lits:
                t = next((t for t, (lo, hi) in self.g.type_uid_ranges.items()
                          if lo <= u < hi), None)
                if t is None:
                    return None
                homes.add(t)
            if len(homes) != 1 or (home := homes.pop()) not in self.g.wide:
                return None
            key = self.g.wide_uid_key.get(home)
            if key is not None:
                # affine uids: filter the PHYSICAL key column — pushes to
                # the parquet scan (row-group pruning), unlike a filter on
                # the computed subject expression
                kcol, base = key
                return home, F.col(kcol).isin([u - base for u in lits])
            return home, F.col(SUBJECT).isin(lits)
        pred = f.pred
        if pred is None or pred.startswith("~"):
            return None
        home = self.g.home_of(pred)
        if home is None:
            return None
        home_name, colname = home
        cond = self._value_leaf_cond(f, F.col(colname))
        if cond is None:
            return None
        return home_name, cond

    def _value_leaf_cond(self, f: FuncCall, col: Column) -> Column | None:
        """Boolean condition of one value-function leaf over the given
        value Column (shared by wide-scan fusion and in-row edge eval)."""
        name = f.name.lower()
        pred = f.pred
        lits = f.literals()
        if name in _COMPARE:
            c2, l2 = self._cmp_side(pred, col, lits)
            return _cmp(c2, name, l2)
        if name == "between":
            c2, l2 = self._cmp_side(pred, col, lits[:2])
            return c2.between(l2[0], l2[1])
        if name == "has":
            return col.isNotNull()
        if name in _STRSEARCH:
            return self._search_cond(name, col, lits, f.pred_lang)
        return None

    def inrow_condition(self, tree: FilterTree, home: str, avail: set[str],
                        dst_col: str) -> Column | None:
        """Compile a FilterTree to ONE boolean Column over a traversal
        edge frame that carries ``home``'s scalar predicates in-row
        (columns ``_a_{pred}``) and the target uid in ``dst_col`` — the
        child @filter then evaluates DURING the edge join, with no node-
        table re-scan and no semi-join. None when any leaf needs more
        than the in-row columns (falls back to the set-algebra path)."""
        if tree.op == "func":
            f = tree.func
            if any(a.is_count or a.is_val_var or a.is_len for a in f.args):
                return None
            if f.pred_lang:
                return None
            if f.name.lower() == "uid":
                # a literal uid set is a membership test on the target uid
                uids = self.uid_list(f)
                return None if uids is None else _isin(dst_col, uids)
            if f.name.lower() == "type":
                rng = self.g.type_uid_ranges.get(str(f.args[0].value))
                if rng is None:
                    return None
                # tagged uid ranges: type() is a free range predicate on
                # the target uid — no membership scan needed
                return (F.col(dst_col) >= rng[0]) & (F.col(dst_col) < rng[1])
            pred = f.pred
            if (pred is None or pred.startswith("~") or pred not in avail
                    or (self.g.home_of(pred) or ("", ""))[0] != home
                    or self.g.schema.get(pred).list):
                return None
            return self._value_leaf_cond(f, F.col(f"_a_{pred}"))
        parts = [self.inrow_condition(c, home, avail, dst_col)
                 for c in tree.children]
        if any(p is None for p in parts):
            return None
        if tree.op == "and":
            out = parts[0]
            for c in parts[1:]:
                out = out & c
            return out
        if tree.op == "or":
            out = parts[0]
            for c in parts[1:]:
                out = out | c
            return out
        if tree.op == "not":
            # set complement: nodes with NO value are IN the complement
            return ~F.coalesce(parts[0], F.lit(False))
        return None

    def fuse_tree(self, tree: FilterTree) -> tuple[str, Column] | None:
        """Fuse a whole FilterTree into one wide-table condition when all
        leaves live on the same home table."""
        if tree.op == "func":
            return self.value_condition(tree.func)
        parts = [self.fuse_tree(c) for c in tree.children]
        if any(p is None for p in parts):
            return None
        homes = {h for h, _ in parts}
        if len(homes) != 1:
            return None
        home = homes.pop()
        conds = [c for _, c in parts]
        if tree.op == "and":
            out = conds[0]
            for c in conds[1:]:
                out = out & c
        elif tree.op == "or":
            out = conds[0]
            for c in conds[1:]:
                out = out | c
        elif tree.op == "not":
            # NOT is a SET COMPLEMENT (algo/uidlist.go Difference): a node
            # with NO value for the pred is in the complement. A bare
            # ~cond would propagate SQL null and drop such rows.
            out = ~F.coalesce(conds[0], F.lit(False))
        else:  # pragma: no cover
            return None
        return home, out

    # ---------------------------------------------------------------- eval
    def _eval(self, f: FuncCall, candidates: DataFrame | None) -> DataFrame:
        name = f.name.lower()
        # strict-schema index requirements (no-op outside declared-schema
        # graphs; worker/task.go:1080-1110)
        self.g.schema.validate_func(name, f.pred, at_root=candidates is None)
        if name in _COMPARE:
            out = self._compare(f, candidates)
        elif name == "between":
            out = self._between(f)
        elif name == "has":
            out = self._has(f)
        elif name == "uid":
            out = self._uid(f)
        elif name == "uid_in":
            out = self._uid_in(f)
        elif name == "type":
            out = self._type(f)
        elif name in _STRSEARCH:
            out = self._string_search(f)
        elif name == "similar_to":
            out = self._similar_to(f)
        elif name in ("near", "within", "contains", "intersects"):
            out = self._geo(f)
        elif name == "checkpwd":
            out = self._checkpwd(f)
        elif name in ("anyof", "allof"):
            out = self._custom_search(f)
        else:
            # dql/parser.go validateFunction / worker InvalidFn
            raise NotImplementedError(
                f"Function name: {f.name} is not valid.")
        if candidates is not None:
            # restrict to candidates: semi join (frontier is usually the
            # smaller side; Catalyst/AQE picks broadcast when it fits)
            out = candidates.join(out, SUBJECT, "left_semi")
        keep = [SUBJECT] + [c for c in out.columns if c == "_frank"]
        return out.select(*keep)

    # ------------------------------------------------------------ families
    def _compare(self, f: FuncCall, candidates: DataFrame | None = None) -> DataFrame:
        name = f.name.lower()
        # eq(count(pred), n) — handleCompareScalarFunction worker/task.go:1222
        count_arg = next((a for a in f.args if a.is_count), None)
        if count_arg is not None:
            return self._count_compare(str(count_arg.value), name, f.literals(),
                                       candidates)
        # eq(len(var), n) — query/query.go:2235: a scalar cardinality
        # check; true keeps every candidate, false keeps none. (The root
        # form takes a fused fast path in the executor; this covers
        # @filter(lt(len(v), n)).)
        len_arg = next((a for a in f.args if a.is_len), None)
        if len_arg is not None:
            vdf = self.env.get(str(len_arg.value))
            n = 0 if vdf is None else vdf.count()
            m = int(f.literals()[0])
            ok = {"eq": n == m, "le": n <= m, "lt": n < m,
                  "ge": n >= m, "gt": n > m}.get(name, False)
            if not ok:
                return self._empty_uids()
            if candidates is not None:
                return candidates.select(SUBJECT)
            # root-level len() without candidates is compiled by the
            # executor's _len_frontier fast path; a true condition there
            # means "the var's own uids"
            return (vdf.select(SUBJECT).distinct() if vdf is not None
                    else self._empty_uids())
        # eq(val(v), x) — compare value variable
        val_arg = next((a for a in f.args if a.is_val_var), None)
        if val_arg is not None and (f.pred is None or f.args[0].is_val_var):
            vdf = self._val_var(str(val_arg.value))
            lits = _flat_lits(f.literals())
            return vdf.where(_cmp(F.col(VALUE), name, [F.lit(x) for x in lits])).select(SUBJECT).distinct()
        pred = f.pred
        if val_arg is not None:
            # eq(pred, val(v)): the var's VALUES become the comparison
            # set (query/query.go:1878 replaceVarInFunc). Stay
            # relational: a semi-join against the var's value relation —
            # never collect the values to the driver (a var with 10^7
            # values must not become an isin literal list).
            vdf = self.env.get(str(val_arg.value))
            if vdf is None:
                return self._empty_uids()
            df, col, unique = self._value_source(pred, f.pred_lang)
            vals = (vdf.where(F.col(VALUE).isNotNull())
                    .select(F.col(VALUE).alias("_vv")).distinct())
            if name == "eq":
                out = df.join(vals, col == F.col("_vv"), "leftsemi").select(SUBJECT)
                return out if unique else out.distinct()
            # ineq funcs take a single value (the reference errors on
            # multi-value vars for ineq); one row to the driver is fine
            rows = vals.limit(1).collect()
            if not rows:
                return self._empty_uids()
            lits = [rows[0]["_vv"]]
        else:
            lits = _flat_lits(f.literals())
        df, col, unique = self._value_source(pred, f.pred_lang)
        c2, cols = self._cmp_side(pred, col, lits)
        out = df.where(_cmp(c2, name, cols)).select(SUBJECT)
        return out if unique else out.distinct()

    def _count_compare(self, pred: str, op: str, lits: list,
                       candidates: DataFrame | None = None) -> DataFrame:
        reverse = pred.startswith("~")
        n = int(lits[0])
        # would a zero count satisfy the comparison? then candidates with
        # NO edges of this pred qualify too (worker/task.go evaluates the
        # count for every srcUID, absent posting list counts as 0)
        zero_ok = {"eq": n == 0, "le": n >= 0, "lt": n > 0,
                   "ge": n <= 0, "gt": n < 0, "ne": n != 0}.get(op, False)
        if not self.g.has_pred(pred.lstrip("~")):
            if zero_ok and candidates is not None:
                return candidates.select(SUBJECT)
            return self._empty_uids()
        edges = self.g.edge(pred.lstrip("~"), reverse=reverse)
        counts = edges.groupBy(SUBJECT).agg(F.count("*").alias("_cnt"))
        if zero_ok and candidates is not None:
            counts = (
                candidates.select(SUBJECT)
                .join(counts, SUBJECT, "left")
                .select(SUBJECT, F.coalesce(F.col("_cnt"), F.lit(0)).alias("_cnt"))
            )
        return counts.where(_cmp(F.col("_cnt"), op, [F.lit(n)])).select(SUBJECT)

    def _value_source(self, pred: str, lang: str | None):
        """Pick the access path for a scalar predicate's values:
        (DataFrame, value Column, subjects_unique?). Prefers the wide
        node table (fused scan, unique subjects -> no distinct)."""
        if not self.g.has_pred(pred):
            return self._scalar(pred, lang), F.col(VALUE), True
        home = self.g.home_of(pred)
        meta = self.g.schema.get(pred)
        if home is not None and not (lang and meta.lang):
            hname, colname = home
            return self.g.wide[hname], F.col(colname), True
        df = self._scalar(pred, lang)
        return df, F.col(VALUE), False

    def _between(self, f: FuncCall) -> DataFrame:
        count_arg = next((a for a in f.args if a.is_count), None)
        if count_arg is not None:
            # between(count(p), lo, hi): count-index range walk
            # (worker/task.go:2508 evaluate, fn == between) — zero or
            # negative bounds are the reference's hard error
            lo, hi = (int(x) for x in f.literals()[:2])
            if lo <= 0 or hi <= 0:
                raise ValueError(
                    "count(predicate) cannot be used to search for "
                    "negative counts (nonsensical) or zero counts "
                    "(not tracked).")
            pred = str(count_arg.value)
            if not self.g.has_pred(pred.lstrip("~")):
                return self._empty_uids()
            edges = self.g.edge(pred.lstrip("~"),
                                reverse=pred.startswith("~"))
            counts = edges.groupBy(SUBJECT).agg(F.count("*").alias("_cnt"))
            return counts.where(
                F.col("_cnt").between(lo, hi)).select(SUBJECT)
        pred = f.pred
        lo, hi = f.literals()[:2]
        df, col, unique = self._value_source(pred, f.pred_lang)
        out = df.where(
            _bt(*self._cmp_side(pred, col, [lo, hi]))
        ).select(SUBJECT)
        return out if unique else out.distinct()

    def _has(self, f: FuncCall) -> DataFrame:
        pred = f.pred
        reverse = pred.startswith("~")
        name = pred.lstrip("~")
        if not self.g.has_pred(name):
            return self._empty_uids()
        if self.g.schema.get(name).is_uid:
            return self.g.edge(name, reverse=reverse).select(SUBJECT).distinct()
        # lang routing matches value reads: bare has(p) sees only
        # untagged values of a @lang predicate, has(p@.) any language,
        # has(p@xx) that language (worker/task.go langForFunc)
        return self._scalar(name, f.pred_lang).select(SUBJECT).distinct()

    def _uid(self, f: FuncCall) -> DataFrame:
        frames: list[DataFrame] = []
        lits: list[int] = []
        for a in f.args:
            u = _uid_literal(a.value)
            if u is not None:
                lits.append(u)
            elif str(a.value) in self.uids:
                lits.extend(self.uids[str(a.value)])
            else:
                frames.append(self._uid_var(str(a.value)))
        if not lits and not frames:
            return self._empty_uids()  # vars bound to no uids
        if lits:
            # the query's literals and bound vars' lists as one parsed
            # VALUES relation (F.lit costs a py4j call per uid), deduped
            # driver-side so no distinct shuffle is needed below
            lit_df = uid_frame(self.g.spark, list(dict.fromkeys(lits)))
            if not frames:
                return lit_df
            frames.append(lit_df)
        if len(frames) == 1:
            return frames[0].distinct()  # keeps _frank order if present
        out = frames[0].select(SUBJECT)
        for fr in frames[1:]:
            out = out.unionByName(fr.select(SUBJECT))
        return out.distinct()

    def _uid_in(self, f: FuncCall) -> DataFrame:
        pred = f.pred
        reverse = pred.startswith("~")
        if not self.g.has_pred(pred.lstrip("~")):
            return self._empty_uids()
        edges = self.g.edge(pred.lstrip("~"), reverse=reverse)
        uids: list[int] = []
        var_frames: list[DataFrame] = []
        for a in f.args[1:]:
            if isinstance(a.value, int):
                uids.append(a.value)
            elif isinstance(a.value, str) and a.value.startswith("0x"):
                uids.append(int(a.value, 16))
            elif a.is_val_var or (isinstance(a.value, str) and a.value in self.env):
                var_frames.append(self._uid_var(str(a.value)))
            else:
                raise ValueError(f"uid_in: bad arg {a.value!r}")
        cond = F.col(OBJECT).isin(uids) if uids else F.lit(False)
        out = edges.where(cond).select(SUBJECT)
        for vf in var_frames:
            out = out.unionByName(
                edges.join(vf.withColumnRenamed(SUBJECT, OBJECT), OBJECT, "left_semi").select(SUBJECT)
            )
        return out.distinct()

    def _type(self, f: FuncCall) -> DataFrame:
        tname = str(f.args[0].value)
        return self.g.uids_of_type(tname)

    def _string_search(self, f: FuncCall) -> DataFrame:
        name = f.name.lower()
        pred = f.pred
        df, col, unique = self._value_source(pred, f.pred_lang)
        cond = self._search_cond(name, col, f.literals(), f.pred_lang)
        out = df.where(cond).select(SUBJECT)
        return out if unique else out.distinct()

    def _similar_to(self, f: FuncCall) -> DataFrame:
        """similar_to(pred, k, [vector]) — exact k-NN over a
        float32vector predicate (worker/task.go:359-410; HNSW replaced by
        exact top-k, which is strictly more accurate — SURVEY.md §7).
        Metric comes from the schema's hnsw(metric:...) spec, default
        euclidean. TakeOrderedAndProject: no full sort, no wide shuffle."""
        from dgraph_spark.operators.similarity import distance_col

        pred = f.pred
        lits = f.literals()
        k = int(lits[0])
        val_arg = next((a for a in f.args if a.is_val_var), None)
        if val_arg is not None:
            # similar_to(pred, k, val(v)): the query vector comes from a
            # value variable; an EMPTY var yields no matches, not an error
            # (worker/task.go similar_to vector arg resolution)
            vdf = self.env.get(str(val_arg.value))
            row = None if vdf is None else vdf.select(VALUE).limit(1).collect()
            if not row:
                return self._empty_uids()
            vec = row[0][VALUE]
        else:
            if len(lits) < 2:
                raise ValueError("similar_to expects a vector literal [..]")
            vec = lits[1]
        if not isinstance(vec, list):
            # similar_to(pred, k, "0x1"): a uid in vector position searches
            # near THAT node's own vector; a node with no vector posting
            # yields an empty result, and the query node itself may appear
            # in the k results (worker/task.go:2211 interpretVFloatOrUid,
            # tok/hnsw SearchWithUid + index.AcceptAll)
            try:
                uid = int(vec, 0) if isinstance(vec, str) else int(vec)
            except (TypeError, ValueError):
                raise ValueError(
                    f"Value {vec!r} is not a uid or vector") from None
            src, scol, _u = self._value_source(pred, None)
            row = src.where(F.col(SUBJECT) == uid).select(scol).limit(1).collect()
            if not row:
                return self._empty_uids()
            vec = list(row[0][0])
        metric = "euclidean"
        for idx in self.g.schema.get(pred).indexes:
            if idx.startswith("hnsw") and "cosine" in idx:
                metric = "cosine"
            elif idx.startswith("hnsw") and ("dot" in idx):
                metric = "dotproduct"
        df, col, _unique = self._value_source(pred, None)
        q = F.array(*[F.lit(float(x)) for x in vec])
        scored = df.select(SUBJECT, distance_col(col, q, metric).alias("_d"))
        topk = scored.orderBy(F.col("_d").asc(), F.col(SUBJECT).asc()).limit(k)
        # preserve distance order into the result (dgraph returns k-NN in
        # similarity order) via a frontier-rank column; the window runs on
        # k rows only
        from pyspark.sql import Window

        w = Window.orderBy(F.col("_d").asc(), F.col(SUBJECT).asc())
        return topk.withColumn("_frank", F.row_number().over(w)).select(SUBJECT, "_frank")

    def _geo(self, f: FuncCall) -> DataFrame:
        """near/within/contains/intersects over GeoJSON scalar predicates
        (types/geofilter.go)."""
        from dgraph_spark.functions import geo

        name = f.name.lower()
        pred = f.pred
        lits = f.literals()
        df, col, unique = self._value_source(pred, None)
        if name == "near":
            pt, dist = lits[0], float(lits[1])
            if dist <= 0:
                # types/geofilter.go:129
                raise ValueError(
                    "Invalid max distance specified for a near query")
            cond = geo.near(col, float(pt[0]), float(pt[1]), dist)
        elif name == "within":
            cond = geo.within(col, _as_geojson_poly(lits[0]))
        elif name == "contains":
            cond = geo.geo_contains(col, _as_geojson_poly(lits[0]))
        else:
            if not (isinstance(lits[0], list) and lits[0]
                    and isinstance(lits[0][0], list)):
                # types/geofilter.go:201 — intersects needs a (multi)polygon
                raise ValueError("Require a polygon for intersects query")
            cond = geo.intersects(col, _as_geojson_poly(lits[0]))
        out = df.where(cond).select(SUBJECT)
        return out if unique else out.distinct()

    def _custom_search(self, f: FuncCall) -> DataFrame:
        """anyof/allof(pred, tokenizer, q) — custom-plugin tokenizer
        search (worker/task.go:269-270 customIndexFn)."""
        pred = f.pred
        lits = f.literals()
        tokenizer, query = str(lits[0]), str(lits[1])
        df, col, unique = self._value_source(pred, f.pred_lang)
        if f.name.lower() == "anyof":
            cond = tok.any_of_custom(col, tokenizer, query)
        else:
            cond = tok.all_of_custom(col, tokenizer, query)
        out = df.where(cond).select(SUBJECT)
        return out if unique else out.distinct()

    def _checkpwd(self, f: FuncCall) -> DataFrame:
        from dgraph_spark.functions.password import checkpwd

        pred = f.pred
        ptyp = self.g.schema.get(pred).typ
        if self.g.schema.strict and ptyp != "password":
            # worker/task.go checkpwd type gate, verbatim message
            raise ValueError(
                f"checkpwd fn can only be used on attr: [{pred}] with "
                f"schema type password. Got type: {ptyp}")
        candidate = str(f.literals()[0])
        df, col, unique = self._value_source(pred, None)
        out = df.where(checkpwd(col, candidate)).select(SUBJECT)
        return out if unique else out.distinct()

    def _search_cond(self, name: str, col: Column, lits: list,
                     lang: str | None = None) -> Column:
        if name == "anyofterms":
            return tok.any_of_terms(col, str(lits[0]))
        if name == "allofterms":
            return tok.all_of_terms(col, str(lits[0]))
        if name == "anyoftext":
            return tok.any_of_text(col, str(lits[0]), lang or "en")
        if name == "alloftext":
            return tok.all_of_text(col, str(lits[0]), lang or "en")
        if name == "regexp":
            return tok.regexp_match(col, str(lits[0]))
        if name == "match":
            dist = int(lits[1]) if len(lits) > 1 else 2
            return tok.fuzzy_match(col, str(lits[0]), dist)
        if name == "ngram":
            return tok.ngram_search(col, str(lits[0]))
        raise NotImplementedError(name)  # pragma: no cover


def _as_geojson_poly(v) -> str:
    """Accept a GeoJSON string or a nested coordinate array literal:
    [x,y] point, [[...]] ring, [[[...]]] polygon, [[[[...]]]] multi."""
    if isinstance(v, str):
        return v
    import json

    def depth(x):
        d = 0
        while isinstance(x, list):
            d += 1
            x = x[0] if x else None
        return d

    d = depth(v)
    if d == 1:
        return json.dumps({"type": "Point", "coordinates": v})
    if d == 2:
        return json.dumps({"type": "Polygon", "coordinates": [v]})
    if d == 3:
        return json.dumps({"type": "Polygon", "coordinates": v})
    return json.dumps({"type": "MultiPolygon", "coordinates": v})


def _flat_lits(lits: list) -> list:
    """eq(name, ["a","b"]) passes one list literal — same meaning as the
    vararg form eq(name, "a", "b") (dql/parser.go parseFuncArgs)."""
    if len(lits) == 1 and isinstance(lits[0], list):
        return lits[0]
    return lits


def _bt(col: Column, lits: list[Column]) -> Column:
    return col.between(lits[0], lits[1])


def _cmp(col: Column, op: str, lits: list[Column]) -> Column:
    if op == "eq":
        if len(lits) == 1:
            return col == lits[0]
        cond = col == lits[0]
        for l in lits[1:]:
            cond = cond | (col == l)
        return cond
    if op == "le":
        return col <= lits[0]
    if op == "lt":
        return col < lits[0]
    if op == "ge":
        return col >= lits[0]
    if op == "gt":
        return col > lits[0]
    raise ValueError(op)
