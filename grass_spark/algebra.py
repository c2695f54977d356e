"""Temporal map-algebra front-end — the engine's ``t.rast.algebra`` /
``t.rast.mapcalc``.

The reference parses expressions with PLY and *immediately* executes
per-granule r.mapcalc process chains (``temporal_algebra.py:2320-3371``,
``temporal_raster_base_algebra.py``) — parse, plan and execution are
fused.  This engine keeps them separate on purpose (SURVEY §3.2): the
expression compiles to a **DataFrame plan** and Catalyst does the
optimization GRASS never had.

Supported surface (the load-bearing subset of the reference grammar):

* arithmetic ``+ - * / %`` between datasets (implicit *equal* temporal
  join, left extent policy) and scalars; explicit
  ``{op,relations,policy}`` with policies ``l r u i d``
  (``temporal_operator.py:69-99``; ``d`` = disjoint union,
  ``temporal_extent.py:210-258``);
* comparisons ``< <= > >= == !=`` and boolean ``&& ||``, plus the
  parameterized ``{&&,relations,aggregate,policy}`` /
  ``{||,...}`` comparison (``temporal_algebra.py:2915-2976``,
  ``compare_bool_value`` at ``temporal_algebra.py:1666-1744``);
* the hash operator ``A # B`` and ``A {#,relations} B`` — per left
  granule, the count of temporally related right granules
  (``temporal_algebra.py:2710-2747``, ``count_map=True`` branch of
  ``build_spatio_temporal_topology_list`` at ``:1609-1620``);
* ``if(cond, then[, else])`` conditionals — map-valued conditions
  (value join) and time-variable conditions (per-branch filters with
  the else branch taking the inverse rows, mirroring
  ``eval_condition_list(inverse=True)``,
  ``temporal_algebra.py:3073-3230``); the relation-parameterized
  ``if({relations}, cond, then[, else])`` form joins branch granules
  to condition granules via Allen relations
  (``build_condition_list`` + ``assign_bool_value``, ``:1630-1664``);
* selection ``A : B`` / anti-selection ``A !: B``
  (``temporal_algebra.py:2977-3071``) — semi/anti equal-join, plus
  ``{:,relations}`` / ``{!:,relations}``;
* ``merge(A, B)`` dataset union (``temporal_algebra.py:2651-2709``);
* extent surgery *inside expressions*: ``buff_t(A, "n unit"|n)``
  (``temporal_algebra.py:3231-3270``, ``temporal_buffer`` at
  ``abstract_map_dataset.py:719-817``: start-inc, coalesce(end,start)
  +inc), ``tsnap(A)`` and ``tshift(A, "n unit"|n)``
  (``temporal_algebra.py:3272-3329``);
* r.mapcalc scalar functions (``lib/calc/function.c:3-76``): exp, log,
  sqrt, abs, sin, cos, tan, asin, acos, atan, int, float, double,
  round, ceil, floor, pow, isnull, isntnull, null(), min, max;
* temporal accessors (``temporal_algebra.py:499-549``): td(),
  start_time(), start_date(), start_datetime(), start_doy(),
  start_dow(), start_year(), start_month(), start_week(),
  start_day(), start_hour(), start_minute(), start_second(), and the
  ``end_*`` twins (interval datasets only);
* quoted datetime literals (``"2005-06-01"``) for use in comparisons
  with the accessors (the lexer's DATETIME/DATE/TIME tokens,
  ``temporal_algebra.py:620-650``).

Every dataset is a DataFrame with key columns, a bucket/time column and
a value column; the evaluator normalizes them to (keys..., __time,
[__end,] __val) and composes joins bottom-up.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# lexer
# ---------------------------------------------------------------------------

_TOKEN_RE = re.compile(
    r"\s*(?:"
    r"(?P<num>\d+\.\d*|\.\d+|\d+)"
    r"|(?P<str>\"[^\"]*\"|'[^']*')"
    r"|(?P<name>[A-Za-z_][A-Za-z0-9_.]*)"
    r"|(?P<topr>\{[^}]*\})"
    r"|(?P<op>!:|&&|\|\||==|!=|<=|>=|[-+*/%():,<>#\[\]])"
    r")"
)


def tokenize(s: str) -> list[tuple[str, str]]:
    out, pos = [], 0
    while pos < len(s):
        m = _TOKEN_RE.match(s, pos)
        if not m or m.end() == pos:
            rest = s[pos:].strip()
            if not rest:
                break
            raise SyntaxError(f"bad token at: {rest[:20]!r}")
        pos = m.end()
        for kind in ("num", "str", "name", "topr", "op"):
            v = m.group(kind)
            if v is not None:
                out.append((kind, v))
                break
    out.append(("end", ""))
    return out


# extent-policy aliases accepted inside {…} operators
# (temporal_operator.py temporal_symbol: l/left r/right u/union
#  d/disjoint i/intersect)
_POLICY_ALIAS = {
    "l": "l", "left": "l", "r": "r", "right": "r",
    "u": "u", "union": "u", "d": "d", "disjoint": "d",
    "i": "i", "intersect": "i",
}


def _parse_topr(spec: str):
    """Split a ``{op,relations[,aggregate][,policy]}`` operator.

    Returns (op, relations, aggregate, policy).  ``aggregate`` is only
    meaningful for the ``&&``/``||`` comparison form
    (temporal_operator.py optype='boolean' doctests); it defaults to
    the comparison's own connector (``&&``→``&``, ``||``→``|``).
    """
    parts = [p.strip() for p in spec.strip("{}").split(",")]
    op = parts[0]
    rels = tuple(
        r.strip() for r in (parts[1].split("|") if len(parts) > 1 and parts[1] else ["equal"])
    )
    aggregate = None
    policy = "l"
    for extra in parts[2:]:
        if extra in ("&", "|"):
            aggregate = extra
        elif extra in _POLICY_ALIAS:
            policy = _POLICY_ALIAS[extra]
        elif extra:
            raise SyntaxError(f"bad temporal-operator component {extra!r}")
    if aggregate is None:
        aggregate = "&" if op == "&&" else "|"
    return op, rels, aggregate, policy


# ---------------------------------------------------------------------------
# AST
# ---------------------------------------------------------------------------


@dataclass
class Num:
    v: float


@dataclass
class Str:
    v: str


@dataclass
class Ref:
    name: str


@dataclass
class Bin:
    op: str
    a: object
    b: object
    relations: tuple[str, ...] = ("equal",)
    policy: str = "l"
    aggregate: str = "&"  # only used by the {&&,…}/{||,…} comparison


@dataclass
class Hash:
    a: object
    b: object
    relations: tuple[str, ...] = ("equal",)


@dataclass
class Call:
    fn: str
    args: list
    relations: tuple[str, ...] | None = None  # if({relations}, …) form


@dataclass
class TIndex:
    """``A[t]`` / ``A[0,0,t]`` temporal map indexing
    (temporal_raster_base_algebra map-offset operator): the value of
    the t-th neighbouring granule in A's per-key series, attached to
    the current granule's extent; out-of-range granules drop.  The
    leading row/col offsets of the 3-component form must be 0 — the
    transcript domain has no spatial grid."""

    a: object
    t: int


@dataclass
class Select:
    a: object
    b: object
    negate: bool
    relations: tuple[str, ...] = ("equal",)


def _topr_kind(v: str) -> str:
    """Classify a {…} operator token by its leading function symbol."""
    head = v.strip("{}").split(",")[0].strip()
    if head in (":", "!:"):
        return "select"
    if head == "#":
        return "hash"
    if head in ("&&", "||"):
        return "comp"
    if head in ("+", "-", "*", "/", "%"):
        return "arith"
    return "relation"  # bare {equal|during} — used by if({rel}, …)


class Parser:
    """Precedence climbing: ||  &&  cmp  #  select(:)  + -  * / %  unary."""

    def __init__(self, tokens: list[tuple[str, str]]):
        self.toks = tokens
        self.i = 0

    def peek(self):
        return self.toks[self.i]

    def eat(self, kind=None, val=None):
        k, v = self.toks[self.i]
        if (kind and k != kind) or (val and v != val):
            raise SyntaxError(f"expected {val or kind}, got {v!r}")
        self.i += 1
        return v

    def parse(self):
        e = self.or_expr()
        if self.peek()[0] != "end":
            raise SyntaxError(f"trailing input at {self.peek()[1]!r}")
        return e

    def _peek_topr(self, kind: str) -> bool:
        k, v = self.peek()
        return k == "topr" and _topr_kind(v) == kind

    def or_expr(self):
        e = self.and_expr()
        while True:
            if self.peek() == ("op", "||"):
                self.eat()
                e = Bin("||", e, self.and_expr())
            elif self._peek_topr("comp") and self.peek()[1].strip("{}").split(",")[0].strip() == "||":
                op, rels, agg, pol = _parse_topr(self.eat("topr"))
                e = Bin(op, e, self.and_expr(), relations=rels, policy=pol, aggregate=agg)
            else:
                return e

    def and_expr(self):
        e = self.cmp_expr()
        while True:
            if self.peek() == ("op", "&&"):
                self.eat()
                e = Bin("&&", e, self.cmp_expr())
            elif self._peek_topr("comp") and self.peek()[1].strip("{}").split(",")[0].strip() == "&&":
                op, rels, agg, pol = _parse_topr(self.eat("topr"))
                e = Bin(op, e, self.cmp_expr(), relations=rels, policy=pol, aggregate=agg)
            else:
                return e

    def cmp_expr(self):
        e = self.hash_expr()
        while self.peek()[0] == "op" and self.peek()[1] in ("<", "<=", ">", ">=", "==", "!="):
            op = self.eat()
            e = Bin(op, e, self.hash_expr())
        return e

    def hash_expr(self):
        e = self.select_expr()
        while True:
            if self.peek() == ("op", "#"):
                self.eat()
                e = Hash(e, self.select_expr())
            elif self._peek_topr("hash"):
                _, rels, _, _ = _parse_topr(self.eat("topr"))
                e = Hash(e, self.select_expr(), relations=rels)
            else:
                return e

    def select_expr(self):
        e = self.add_expr()
        while True:
            k, v = self.peek()
            if k == "op" and v in (":", "!:"):
                self.eat()
                e = Select(e, self.add_expr(), negate=v == "!:")
            elif k == "topr" and _topr_kind(v) == "select":
                # parameterized select {:,relations[,policy]} —
                # temporal_algebra.py:2977-3072
                op, rels, _, _ = _parse_topr(self.eat("topr"))
                e = Select(e, self.add_expr(), negate=op == "!:", relations=rels)
            else:
                return e

    def add_expr(self):
        e = self.mul_expr()
        while True:
            k, v = self.peek()
            if k == "op" and v in ("+", "-"):
                self.eat()
                e = Bin(v, e, self.mul_expr())
            elif k == "topr" and _topr_kind(v) == "arith":
                op, rels, _, pol = _parse_topr(self.eat("topr"))
                e = Bin(op, e, self.mul_expr(), relations=rels, policy=pol)
            else:
                return e

    def mul_expr(self):
        e = self.unary()
        while self.peek()[0] == "op" and self.peek()[1] in ("*", "/", "%"):
            op = self.eat()
            e = Bin(op, e, self.unary())
        return e

    def unary(self):
        if self.peek() == ("op", "-"):
            self.eat()
            return Bin("-", Num(0.0), self.unary())
        return self.atom()

    def atom(self):
        e = self._atom_base()
        while self.peek() == ("op", "["):
            self.eat()
            idx = [self._signed_int()]
            while self.peek() == ("op", ","):
                self.eat()
                idx.append(self._signed_int())
            self.eat("op", "]")
            if len(idx) not in (1, 3):
                raise SyntaxError("map index takes [t] or [row,col,t]")
            if len(idx) == 3:
                if idx[0] != 0 or idx[1] != 0:
                    raise ValueError(
                        "spatial map offsets are unmapped in the "
                        "transcript domain (use [0,0,t])"
                    )
                idx = idx[2:]
            e = TIndex(e, idx[0])
        return e

    def _signed_int(self) -> int:
        neg = False
        while self.peek() == ("op", "-"):
            self.eat()
            neg = not neg
        v = self.eat("num")
        return -int(float(v)) if neg else int(float(v))

    def _atom_base(self):
        k, v = self.peek()
        if k == "num":
            self.eat()
            return Num(float(v))
        if k == "str":
            self.eat()
            return Str(v[1:-1])
        if k == "name":
            self.eat()
            if self.peek() == ("op", "("):
                self.eat()
                args, rels = [], None
                if self._peek_topr("relation"):
                    # if({equal|during}, cond, then[, else]) — the bare
                    # T_REL_OPERATOR form: the whole {…} body is the
                    # relation list (temporal_algebra.py:3097-3128,
                    # 3171-3230)
                    spec = self.eat("topr").strip("{}")
                    rels = tuple(r.strip() for r in spec.split("|"))
                    self.eat("op", ",")
                if self.peek() != ("op", ")"):
                    args.append(self.or_expr())
                    while self.peek() == ("op", ","):
                        self.eat()
                        args.append(self.or_expr())
                self.eat("op", ")")
                return Call(v, args, relations=rels)
            return Ref(v)
        if k == "op" and v == "(":
            self.eat()
            e = self.or_expr()
            self.eat("op", ")")
            return e
        raise SyntaxError(f"unexpected token {v!r}")


def parse(expr: str):
    return Parser(tokenize(expr)).parse()


# ---------------------------------------------------------------------------
# evaluator
# ---------------------------------------------------------------------------

_SCALAR_FNS = {
    "exp": F.exp, "log": F.log, "sqrt": F.sqrt, "abs": F.abs,
    "sin": F.sin, "cos": F.cos, "tan": F.tan,
    "asin": F.asin, "acos": F.acos, "atan": F.atan,
    "ceil": F.ceil, "floor": F.floor, "round": F.round,
    "int": lambda c: c.cast("int"), "float": lambda c: c.cast("float"),
    "double": lambda c: c.cast("double"),
    "isnull": lambda c: c.isNull(), "isntnull": lambda c: c.isNotNull(),
    # exist(A): true wherever the map exists — registered granules all
    # exist, so this is a constant over the frame's rows
    # (r.mapcalc exist(); unittests_temporal_raster_conditionals.py
    # test_temporal_conditional_relation_1)
    "exist": lambda c: F.lit(True),
}

_TIME_FNS = {
    "start_time": lambda t, e: t,
    "start_date": lambda t, e: F.to_date(t),
    "start_datetime": lambda t, e: t,
    "start_doy": lambda t, e: F.dayofyear(t),
    # isoweekday parity: Monday == 1 (temporal_algebra.py:2062
    # ``start.isoweekday()``); Spark's dayofweek is Sunday==1
    "start_dow": lambda t, e: F.weekday(t) + 1,
    "start_year": lambda t, e: F.year(t),
    "start_month": lambda t, e: F.month(t),
    "start_week": lambda t, e: F.weekofyear(t),
    "start_day": lambda t, e: F.dayofmonth(t),
    "start_hour": lambda t, e: F.hour(t),
    "start_minute": lambda t, e: F.minute(t),
    "start_second": lambda t, e: F.second(t),
    # end_* twins (temporal_operator/datetime_functions table,
    # temporal_algebra.py:499-548) — interval datasets only
    "end_time": lambda t, e: e,
    "end_date": lambda t, e: F.to_date(e),
    "end_datetime": lambda t, e: e,
    "end_doy": lambda t, e: F.dayofyear(e),
    "end_dow": lambda t, e: F.weekday(e) + 1,
    "end_year": lambda t, e: F.year(e),
    "end_month": lambda t, e: F.month(e),
    "end_week": lambda t, e: F.weekofyear(e),
    "end_day": lambda t, e: F.dayofmonth(e),
    "end_hour": lambda t, e: F.hour(e),
    "end_minute": lambda t, e: F.minute(e),
    "end_second": lambda t, e: F.second(e),
    # td() = interval length in DAYS for absolute time (the reference
    # converts via time_delta_to_relative_time, datetime_math.py:40-42)
    "td": lambda t, e: (F.unix_micros(e) - F.unix_micros(t)) / 86400e6,
}

_BIN_COL = {
    "+": lambda a, b: a + b,
    "-": lambda a, b: a - b,
    "*": lambda a, b: a * b,
    "/": lambda a, b: a / b,
    "%": lambda a, b: a % b,
    "<": lambda a, b: a < b, "<=": lambda a, b: a <= b,
    ">": lambda a, b: a > b, ">=": lambda a, b: a >= b,
    "==": lambda a, b: a == b, "!=": lambda a, b: a != b,
    "&&": lambda a, b: a & b, "||": lambda a, b: a | b,
}


@dataclass
class _Frame:
    df: DataFrame  # normalized: keys..., __time, [__end,] __val
    # True when __val derives only from temporal metadata (accessors,
    # td(), # counts) — the reference's t_var_expr class.  Conditionals
    # branch on this: pure-temporal conditions keep the base parser's
    # SELECTION semantics (false maps are removed), value-bearing
    # conditions (s_var_expr / ts_var_expr) run the r.mapcalc command
    # pipeline (false cells become the else value / 0).
    value_free: bool = False


@dataclass
class _Scalar:
    col: object          # Column or python literal
    time_dep: bool = False  # built from __time/__end — needs a frame


class TemporalAlgebra:
    """Evaluate algebra expressions over named datasets.

    ``env`` maps dataset name -> DataFrame; ``time_col``/``end_col``/
    ``value_col`` name its schema (end optional).
    """

    def __init__(
        self,
        keys: list[str] | None = None,
        time_col: str = "bucket_start",
        end_col: str | None = "bucket_end",
        value_col: str = "value",
        flavor: str = "temporal",
    ):
        """``flavor`` picks the reference parser being mirrored for
        map-valued conditionals: ``temporal`` = TemporalAlgebraParser
        (if() SELECTS branch maps via branch-{rel}-cond boolean folds);
        ``raster`` = TemporalRasterAlgebraParser (if() computes VALUES
        over then/else granules related by cond-{rel}-conclusion,
        build_condition_cmd_list, temporal_raster_base_algebra.py:
        641-747).  Everything else is identical between the two."""
        if flavor not in ("temporal", "raster"):
            raise ValueError("flavor must be 'temporal' or 'raster'")
        self.keys = ["conv_id"] if keys is None else list(keys)
        self.time_col = time_col
        self.end_col = end_col
        self.value_col = value_col
        self.flavor = flavor

    # -- frame normalization ------------------------------------------
    def _norm(self, df: DataFrame) -> DataFrame:
        cols = [F.col(k) for k in self.keys] + [
            F.col(self.time_col).alias("__time"),
            F.col(self.value_col).alias("__val"),
        ]
        if self.end_col and self.end_col in df.columns:
            cols.insert(len(self.keys) + 1, F.col(self.end_col).alias("__end"))
        # a NULL-valued input row is a map with no data: GRASS gives an
        # all-null raster no range metadata and the algebra treats it as
        # absent (unittests_temporal_raster_algebra_grs.py test_3:
        # A + B + C + tmap(nullmap) registers ZERO maps) — drop on ingest
        return df.select(*cols).where(F.col("__val").isNotNull())

    def _denorm(self, df: DataFrame) -> DataFrame:
        out = df.withColumnRenamed("__time", self.time_col).withColumnRenamed(
            "__val", self.value_col
        )
        if "__end" in df.columns and self.end_col:
            out = out.withColumnRenamed("__end", self.end_col)
        return out

    # -- public ---------------------------------------------------------
    def eval(self, expr: str, env: dict[str, DataFrame]) -> DataFrame:
        ast = parse(expr)
        norm = {
            k: self._norm(v) if isinstance(v, DataFrame) else v
            for k, v in env.items()
        }
        res = self._eval(ast, norm)
        if isinstance(res, _Scalar):
            raise ValueError("expression has no dataset reference")
        return self._denorm(res.df)

    def eval_gran(self, expr: str, env: dict[str, DataFrame]) -> DataFrame:
        """Granularity-mode evaluation (``t.rast.algebra -g``,
        ``setup_common_granularity``, temporal_algebra.py:853-976): the
        common granularity of every dataset in the expression is
        computed (``compute_common_absolute_time_granularity`` with the
        dataset start times), every dataset is RESAMPLED onto that
        granule lattice (each map splits into the granules its extent
        intersects, one map per granule —
        ``get_registered_maps_as_objects_by_granularity``), and the
        expression is evaluated on the equidistant lists.  Only
        ``equal`` topology is then meaningful, and spatio-temporal
        ``{…}`` operators are rejected like the reference does
        (:880-888)."""
        from grass_spark.functions import granularity as G

        if "{" in expr or "}" in expr:
            raise ValueError(
                "spatio-temporal topological operators are not supported "
                "in granularity algebra mode"
            )
        import re

        # the reference's setup_common_granularity lexes the expression
        # and computes the common granularity ONLY over dataset names in
        # it, skipping map()/tmap() arguments (temporal_algebra.py:
        # 897-950, the "Ignore map layer" loop) — an unreferenced 5-day
        # dataset in the env must not drag A+B down to "1 day".  All
        # referenced frames (incl. tmap args) still resample onto the
        # common lattice so equal-topology joins see granule extents.
        used = {
            m.group(0) for m in re.finditer(r"[A-Za-z_]\w*", expr)
        } & set(env)
        # the reference's ignore loop skips ONLY names preceded by a
        # MAP/TMAP token (temporal_algebra.py:905-910) — a dataset
        # referenced as strds(X)/stvds(X)/str3ds(X) DOES contribute to
        # the common granularity, so those constructors are not stripped.
        stripped = re.sub(
            r"\b(?:map|tmap)\s*\(\s*[A-Za-z_]\w*\s*\)",
            "", expr,
        )
        gran_names = {
            m.group(0) for m in re.finditer(r"[A-Za-z_]\w*", stripped)
        } & set(env)

        passthrough = {
            n: v for n, v in env.items()
            if n in used and not isinstance(v, DataFrame)
        }
        df_items = [
            (n, v) for n, v in env.items()
            if n in used and isinstance(v, DataFrame)
        ]

        def _prep(name: str, v: DataFrame):
            # granularity mode probes every dataset repeatedly (empty
            # check, start time, delta inference, then the split +
            # eval); checkpoint ONCE so the upstream plan executes a
            # single time instead of per probe — datasets here are
            # catalog-scale map lists (the reference reads granularity
            # from STDS metadata; this inference is its substitute)
            # lazy checkpoint: the probe's collect below materializes
            # it in the SAME job (one job instead of checkpoint+probe)
            nd = self._norm(v).localCheckpoint(eager=False)
            probe = nd.agg(
                F.count(F.lit(1)).alias("n"), F.min("__time").alias("s")
            ).collect()[0]
            if probe["n"] == 0:
                # an empty dataset (e.g. an all-null map dropped on
                # ingest) contributes no granularity; downstream equal-
                # topology joins against it produce the empty result the
                # reference registers (grs test_3)
                return name, nd, None, None
            st = probe["s"]
            g = None
            if name in gran_names:
                g = G.infer_granularity_from_df(
                    self._denorm(nd), ts_col=self.time_col,
                    end_col=self.end_col if "__end" in nd.columns else None,
                    # checkpointed catalog-scale map list: single-task
                    # lag beats the range-stitch scale path here
                    assume_small=True,
                )
                if g is None:
                    raise ValueError(f"cannot infer granularity of {name!r}")
            return name, nd, st, g

        # each dataset's checkpoint + probe + inference is an independent
        # chain of small Spark jobs; the driver-side waits dominated the
        # build (round-3 PLANS.md "Granularity-mode build cost"), so
        # submit them concurrently — Spark's scheduler interleaves jobs
        # from multiple threads — and keep env order (ex.map preserves
        # input order) so common_granularity sees a deterministic list.
        if len(df_items) > 1:
            from concurrent.futures import ThreadPoolExecutor

            with ThreadPoolExecutor(max_workers=min(8, len(df_items))) as ex:
                prepped = list(ex.map(lambda t: _prep(*t), df_items))
        else:
            prepped = [_prep(n, v) for n, v in df_items]

        grans: list[str] = []
        starts: list[datetime] = []
        frames: dict[str, DataFrame] = {}
        start_of: dict[str, datetime] = {}
        for name, nd, st, g in prepped:
            frames[name] = nd
            if st is None:
                continue
            start_of[name] = st
            if g is not None:
                grans.append(g)
                starts.append(st)
        if not grans:
            raise ValueError(
                "granularity mode needs at least one dataset outside "
                "map()/tmap() to define the common granularity"
            )
        common = G.common_granularity(grans, starts)
        env2: dict[str, object] = dict(passthrough)
        for name, nd in frames.items():
            if name not in start_of:  # empty dataset: nothing to split
                env2[name] = self._denorm(nd)
                continue
            env2[name] = self._denorm(
                self._split_by_granularity(nd, common, start_of[name])
            )
        return self.eval(expr, env2)

    def _split_by_granularity(
        self, nd: DataFrame, gran: str, dataset_start
    ) -> DataFrame:
        """Explode each map's extent into the common-granularity
        granules it intersects, anchored at the dataset start adjusted
        to the granularity; one map per granule (the reference keeps
        ``entry[0]`` — the earliest-starting map —
        temporal_algebra.py:1257-1264).  All column arithmetic: one
        ``explode(sequence(...))`` per row, no driver loop."""
        from grass_spark.functions import granularity as G

        origin = G.adjust_datetime_to_granularity(dataset_start, gran)
        last_ts = (
            F.timestamp_micros(F.unix_micros(F.col("__end")) - 1)
            if "__end" in nd.columns
            else F.col("__time")
        )
        i0 = G.bucket_idx_col(F.col("__time"), gran, origin)
        i1 = F.greatest(G.bucket_idx_col(last_ts, gran, origin), i0)
        out = (
            nd.withColumn("__gidx", F.explode(F.sequence(i0, i1)))
            .withColumn("__g_time", G.granule_start_col("__gidx", gran, origin))
        )
        w = Window.partitionBy(*self.keys, "__gidx").orderBy(
            F.col("__time"), F.col("__val")
        )
        out = (
            out.withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") == 1)
            .select(
                *self.keys,
                F.col("__g_time").alias("__time"),
                G.bucket_end_col(F.col("__g_time"), gran).alias("__end"),
                "__val",
            )
        )
        return out

    # -- core -------------------------------------------------------------
    def _join_cols(self, df: DataFrame) -> list[str]:
        return [*self.keys, "__time"]

    @staticmethod
    def _end_of(df: DataFrame) -> Column:
        return (
            F.col("__end") if "__end" in df.columns
            else F.lit(None).cast("timestamp")
        )

    def _b_side(self, b: DataFrame) -> DataFrame:
        """Rename b's columns for a non-equi relation join."""
        return b.select(
            *[F.col(k).alias(f"__b_{k}") for k in self.keys],
            F.col("__time").alias("__b_time"),
            self._end_of(b).alias("__b_end"),
            F.col("__val").alias("__val_r"),
        )

    def _rel_cond(self, a: DataFrame, relations) -> Column:
        # builder-list semantics, NOT the strict dispatcher: the algebra's
        # topolists come from SpatioTemporalTopologyBuilder, whose DURING/
        # CONTAINS lists also hold starts/finishes resp. started/finished
        # pairs (spatio_temporal_relationships.py:608-672) — verified by
        # the reference's own suite (A {:,during} C selects the map that
        # merely *starts* C; unittests_temporal_algebra.py:185-205)
        from grass_spark.functions import relations as _rel

        cond = _rel.topo_any(
            list(relations), F.col("__time"), self._end_of(a),
            F.col("__b_time"), F.col("__b_end"),
        )
        for k in self.keys:
            cond = cond & (F.col(k) == F.col(f"__b_{k}"))
        return cond

    def _eval(self, node, env):
        if isinstance(node, Num):
            return _Scalar(F.lit(node.v))
        if isinstance(node, Str):
            return _Scalar(F.lit(node.v))
        if isinstance(node, Ref):
            if node.name not in env:
                raise KeyError(f"unknown dataset {node.name!r}")
            v = env[node.name]
            # numeric env entries model timeless single maps (map())
            if isinstance(v, (int, float)):
                return _Scalar(F.lit(float(v)))
            return _Frame(v)
        if isinstance(node, TIndex):
            return self._tindex(node, env)
        if isinstance(node, Select):
            return self._select(node, env)
        if isinstance(node, Hash):
            return self._hash(node, env)
        if isinstance(node, Call):
            return self._call(node, env)
        if isinstance(node, Bin):
            return self._bin(node, env)
        raise TypeError(node)

    def _equal_cols(self, a_df: DataFrame, b_df: DataFrame):
        """Join columns for the EQUAL fast path: keys + start + end.
        Equality is full-extent (temporal_extent.py equal: both starts
        AND both ends match — a 1-day and a 2-day map sharing a start
        are NOT equal, pinned by unittests_temporal_raster_algebra
        test_temporal_intersection_1).  Returns None for mixed
        instant/interval frames — callers fall back to the generic
        relation join, whose equal predicate handles NULL ends."""
        cols = self._join_cols(a_df)
        a_has, b_has = "__end" in a_df.columns, "__end" in b_df.columns
        if a_has and b_has:
            return [*cols, "__end"]
        if a_has != b_has:
            return None
        return cols

    def _select(self, node: Select, env):
        a = self._eval(node.a, env)
        b = self._eval(node.b, env)
        if not isinstance(a, _Frame) or not isinstance(b, _Frame):
            raise ValueError("':' operands must be datasets")
        how = "left_anti" if node.negate else "left_semi"
        eq_cols = self._equal_cols(a.df, b.df)
        if set(node.relations) == {"equal"} and eq_cols is not None:
            return _Frame(
                a.df.join(b.df.select(*eq_cols), on=eq_cols, how=how)
            )
        # relation-parameterized select: semi/anti join on the Allen
        # predicates over the extent columns (keys still equi-joined)
        bsel = self._b_side(b.df).drop("__val_r")
        return _Frame(a.df.join(bsel, on=self._rel_cond(a.df, node.relations), how=how))

    def _hash(self, node: Hash, env):
        """``A # B`` / ``A {#,relations} B`` — replace each left
        granule's value with the count of temporally related right
        granules (``count_map=True``,
        ``temporal_algebra.py:1609-1620``).  Left granules with no
        related right granule are dropped (the reference only adds a
        map to ``resultdict`` when a relation is found); the extent is
        always the left extent (the hash eval never applies the
        extent operator).  One relation join + one groupBy — no
        cross product at any scale."""
        a = self._eval(node.a, env)
        b = self._eval(node.b, env)
        if not isinstance(a, _Frame) or not isinstance(b, _Frame):
            raise ValueError("'#' operands must be datasets")
        ident = [*self.keys, "__time"] + (["__end"] if "__end" in a.df.columns else [])
        eq_cols = self._equal_cols(a.df, b.df)
        if set(node.relations) == {"equal"} and eq_cols is not None:
            bb = b.df.groupBy(*eq_cols).agg(
                F.count(F.lit(1)).alias("__cnt")
            )
            joined = a.df.drop("__val").join(bb, on=eq_cols, how="inner")
            # hash counts are temporal metadata (GlobalTemporalVar td),
            # not raster values — t_var_expr class
            return _Frame(
                joined.withColumnRenamed("__cnt", "__val"), value_free=True
            )
        bsel = self._b_side(b.df).drop("__val_r")
        joined = a.df.drop("__val").join(
            bsel, on=self._rel_cond(a.df, node.relations), how="inner"
        )
        out = joined.groupBy(*ident).agg(F.count(F.lit(1)).alias("__val"))
        return _Frame(out, value_free=True)

    def _bin(self, node: Bin, env):
        a = self._eval(node.a, env)
        b = self._eval(node.b, env)
        res = self._bin_impl(node, a, b)
        if isinstance(res, _Frame):
            res.value_free = (
                (not isinstance(a, _Frame) or a.value_free)
                and (not isinstance(b, _Frame) or b.value_free)
            )
        return res

    def _bin_impl(self, node: Bin, a, b):
        fn = _BIN_COL[node.op]
        if node.policy not in ("l", "r", "u", "i", "d"):
            raise NotImplementedError(
                f"temporal extent policy {node.policy!r} not supported "
                "(l | r | u | i | d)"
            )
        if isinstance(a, _Frame) and isinstance(b, _Frame):
            if node.op in ("&&", "||") and set(node.relations) != {"equal"}:
                return self._comp_join(a, b, node)
            eq_cols = self._equal_cols(a.df, b.df)
            # fast path: hash equi-join on the full extent.  Not valid
            # for policy 'r' (one row per related RIGHT map — cardinality
            # differs when several rights share an extent); everything
            # else keeps the left row set, and u/i/d extents of equal
            # extents are the extent itself.
            if (
                set(node.relations) == {"equal"}
                and eq_cols is not None
                and node.policy != "r"
            ):
                if node.op in ("&&", "||"):
                    # implicit aggregation over same-extent rights uses
                    # the boolean connector (compare_bool_value)
                    agg = F.bool_and if node.op == "&&" else F.bool_or
                    bb = b.df.groupBy(*eq_cols).agg(
                        agg(F.col("__val").cast("boolean")).alias("__val_r")
                    )
                    joined = a.df.join(bb, on=eq_cols, how="inner")
                    return _Frame(
                        joined.withColumn(
                            "__val", fn(F.col("__val"), F.col("__val_r"))
                        ).drop("__val_r")
                    )
                if node.op in ("<", "<=", ">", ">=", "==", "!="):
                    # comparisons against several same-extent rights
                    # combine with the '&' aggregate connector
                    # (compare_cmd_value builds "(a op b1 && a op b2)")
                    bb = b.df.groupBy(*eq_cols).agg(
                        F.collect_list(F.col("__val")).alias("__arr")
                    )
                    joined = a.df.join(bb, on=eq_cols, how="inner")
                    combined = F.aggregate(
                        F.col("__arr"),
                        F.lit(True),
                        lambda acc, v: acc & fn(F.col("__val"), v),
                    )
                    return _Frame(
                        joined.withColumn("__val", combined).drop("__arr")
                    )
                # several right maps on one extent fold left-associatively
                # with the operator itself — GRASS's "implicit
                # aggregation" (operator_cmd_value accumulates the
                # r.mapcalc string per related map;
                # unittests_temporal_raster_algebra_equal_ts.py:
                # R = A + A over four same-instant maps is
                # a_i + a1 + a2 + a3 + a4).  Same-extent fold order is
                # value-sorted (registration order is not represented);
                # order only matters for the non-associative `%`.
                bb = b.df.groupBy(*eq_cols).agg(
                    F.array_sort(
                        F.collect_list(F.col("__val").cast("double"))
                    ).alias("__arr")
                )
                joined = a.df.join(bb, on=eq_cols, how="inner")
                folded = F.aggregate(
                    F.col("__arr"),
                    F.col("__val").cast("double"),
                    lambda acc, v: fn(acc, v),
                )
                return _Frame(
                    joined.withColumn("__val", folded).drop("__arr")
                )
            return self._relation_join(a, b, fn, node.relations, node.policy)
        if isinstance(a, _Frame):
            return _Frame(a.df.withColumn("__val", fn(F.col("__val"), self._as_col(b))))
        if isinstance(b, _Frame):
            return _Frame(b.df.withColumn("__val", fn(self._as_col(a), F.col("__val"))))
        return _Scalar(
            fn(self._as_col(a), self._as_col(b)),
            time_dep=a.time_dep or b.time_dep,
        )

    @staticmethod
    def _as_col(s: _Scalar) -> Column:
        return s.col

    def _relation_join(self, a, b, fn, relations, policy):
        """Arithmetic across datasets related by arbitrary Allen
        relations (``A {+,during,u} B`` — temporal_raster_base_algebra
        spatio-temporal operators).  Keys stay equi-joined; extents join
        on the relation predicates (builder-widened).

        The reference FOLDS the operation over every related right map
        in (topolist-index, start-time) order — ``B {+,contains,l} A``
        over b1⊃{a1,a2} yields ONE map b1+a1+a2, not two pairs
        (unittests_temporal_raster_algebra test_raster_arithmetic_
        relation_1: min 5+1+2=8, max 6+3+4=13).  Extent policy:
        l=left, u/d=union, i=intersection — one row per left map;
        r=ONE ROW PER RELATED RIGHT map (its extent), all carrying the
        folded value (set_temporal_extent_list regenerates under 'r',
        relation_4: n=4, values {8,8,13,13})."""
        from grass_spark.functions import relations as _rel

        bsel = self._b_side(b.df)
        joined = a.df.join(bsel, on=self._rel_cond(a.df, relations), how="inner")
        # fold order: first-matching topolist index, then right start
        tidx = F.lit(len(relations)).cast("int")
        a_t, a_e = F.col("__time"), self._end_of(a.df)
        for i, name in reversed(list(enumerate(relations))):
            tidx = F.when(
                _rel.topo_relation(
                    name, a_t, a_e, F.col("__b_time"), F.col("__b_end")
                ),
                F.lit(i).cast("int"),
            ).otherwise(tidx)
        joined = joined.withColumn("__tidx", tidx)
        if policy == "u":
            # union of STRICTLY disjoint extents is undefined — the pair
            # drops (temporal_extent.py union returns None; overlay_map_
            # extent returncode 0).  'd' (disjoint union) keeps them.
            a_hi0 = F.coalesce(self._end_of(a.df), F.col("__time"))
            b_hi0 = F.coalesce(F.col("__b_end"), F.col("__b_time"))
            joined = joined.where(
                ~((a_hi0 < F.col("__b_time")) | (b_hi0 < F.col("__time")))
            )
        ident = [*self.keys, "__time"] + (["__end"] if "__end" in a.df.columns else [])
        elem = F.struct(
            F.col("__tidx"), F.col("__b_time").alias("__bt"),
            F.col("__val_r").alias("__v"),
        )

        def fold(arr):
            return F.aggregate(
                F.array_sort(arr),
                F.col("__val").cast("double"),
                lambda acc, s: fn(acc, s["__v"]),
            )

        if policy == "r":
            w = Window.partitionBy(*ident, "__val")
            folded = fold(F.collect_list(elem).over(w))
            out = (
                joined.withColumn("__new_val", folded)
                .withColumn("__new_time", F.col("__b_time"))
                .withColumn("__new_end", F.col("__b_end"))
                .drop("__time", "__end", "__val", "__val_r", "__tidx",
                      "__b_time", "__b_end", *[f"__b_{k}" for k in self.keys])
                .withColumnRenamed("__new_val", "__val")
                .withColumnRenamed("__new_time", "__time")
                .withColumnRenamed("__new_end", "__end")
            )
            return _Frame(out)
        b_hi = F.coalesce(F.col("__b_end"), F.col("__b_time"))
        a_hi = F.coalesce(a_e, a_t)
        grouped = joined.groupBy(*ident, F.col("__val")).agg(
            F.collect_list(elem).alias("__arr"),
            F.min(F.col("__b_time")).alias("__b_lo"),
            F.max(b_hi).alias("__b_hi"),
        )
        grouped = grouped.withColumn("__new_val", fold(F.col("__arr")))
        if policy == "l":
            t, e = F.col("__time"), self._end_of(a.df)
        elif policy in ("u", "d"):
            t = F.least(F.col("__time"), F.col("__b_lo"))
            e = F.greatest(F.coalesce(self._end_of(a.df), F.col("__time")), F.col("__b_hi"))
        else:  # "i"
            t = F.greatest(F.col("__time"), F.col("__b_lo"))
            e = F.least(F.coalesce(self._end_of(a.df), F.col("__time")), F.col("__b_hi"))
        out = (
            grouped.withColumn("__new_time", t)
            .withColumn("__new_end", e)
            .drop("__time", "__end", "__val", "__arr", "__b_lo", "__b_hi")
            .withColumnRenamed("__new_val", "__val")
            .withColumnRenamed("__new_time", "__time")
            .withColumnRenamed("__new_end", "__end")
        )
        return _Frame(out)

    def _comp_join(self, a, b, node: Bin):
        """Parameterized boolean comparison ``A {&&,relations,agg,
        policy} B`` (``compare_bool_value``,
        ``temporal_algebra.py:1666-1744``): per left granule, the
        related right granules' boolean values are folded with the
        aggregate connector (``&`` = all, ``|`` = any) and the result
        combined with the left value via the comparison operator.
        Left granules with no related right granule are dropped.  For
        policies u/i/d the reference mutates the left extent once per
        related map, accumulating — equivalent to aggregating min/max
        over the matched set, which is what the groupBy computes."""
        bsel = self._b_side(b.df)
        joined = a.df.join(bsel, on=self._rel_cond(a.df, node.relations), how="inner")
        agg_fn = F.bool_and if node.aggregate == "&" else F.bool_or
        a_t, a_e = F.col("__time"), self._end_of(a.df)
        b_t = F.col("__b_time")
        b_hi = F.coalesce(F.col("__b_end"), b_t)
        a_hi = F.coalesce(a_e, a_t)
        ident = [*self.keys, "__time"] + (["__end"] if "__end" in a.df.columns else [])
        if node.policy == "r":
            # the reference's set_temporal_extent_list regenerates the
            # intermediate map PER RELATED MAP under temporal='r'
            # (temporal_algebra.py:1149-1156), so the result holds ONE
            # map per (left, related-right) pair, each with the RIGHT
            # extent and the left map's combined boolean.  Duplicate
            # extents with conflicting booleans are meaningful: the
            # downstream if() folds them with all() (assign_bool_value).
            from pyspark.sql import Window as _W

            w = _W.partitionBy(*ident, "__val")
            comb = (
                (F.col("__val") & agg_fn(F.col("__val_r")).over(w))
                if node.op == "&&"
                else (F.col("__val") | agg_fn(F.col("__val_r")).over(w))
            )
            out = (
                joined.withColumn("__new_val", comb)
                .withColumn("__new_time", b_t)
                .withColumn("__new_end", F.col("__b_end"))
                .drop("__time", "__end", "__val", "__val_r",
                      "__b_time", "__b_end", *[f"__b_{k}" for k in self.keys])
                .withColumnRenamed("__new_val", "__val")
                .withColumnRenamed("__new_time", "__time")
                .withColumnRenamed("__new_end", "__end")
            )
            return _Frame(out)
        grouped = joined.groupBy(*ident, F.col("__val")).agg(
            agg_fn(F.col("__val_r")).alias("__agg"),
            F.min(b_t).alias("__b_lo"),
            F.max(b_hi).alias("__b_hi"),
        )
        comb = (
            (F.col("__val") & F.col("__agg")) if node.op == "&&"
            else (F.col("__val") | F.col("__agg"))
        )
        grouped = grouped.withColumn("__val", comb).drop("__agg")
        if node.policy == "l":
            return _Frame(grouped.drop("__b_lo", "__b_hi"))
        if node.policy in ("u", "d"):
            t = F.least(a_t, F.col("__b_lo"))
            e = F.greatest(a_hi, F.col("__b_hi"))
        else:  # "i"
            t = F.greatest(a_t, F.col("__b_lo"))
            e = F.least(a_hi, F.col("__b_hi"))
        out = (
            grouped.withColumn("__new_time", t)
            .withColumn("__new_end", e)
            .drop("__time", "__end", "__b_lo", "__b_hi")
            .withColumnRenamed("__new_time", "__time")
            .withColumnRenamed("__new_end", "__end")
        )
        return _Frame(out)

    # -- extent surgery inside expressions ---------------------------------
    @staticmethod
    def _increment(arg) -> tuple[int, str]:
        """Parse a buff_t/tshift increment: Num(n) → n seconds
        (relative-time analog), Str("n unit") → calendar-aware."""
        from grass_spark.functions.granularity import parse_granularity

        if isinstance(arg, Num):
            return int(arg.v), "second"
        if isinstance(arg, Str):
            return parse_granularity(arg.v)
        raise ValueError("increment must be a number or a quoted string")

    @staticmethod
    def _shift_ts(c: Column, num: int, unit: str) -> Column:
        from grass_spark.functions.granularity import _UNIT_SECONDS

        if unit in ("month", "year"):
            months = num * (12 if unit == "year" else 1)
            return F.add_months(c, months).cast("timestamp")
        secs = num * _UNIT_SECONDS[unit]
        return F.timestamp_micros(F.unix_micros(c.cast("timestamp")) + secs * 1_000_000)

    def _buff_t(self, frame: _Frame, arg) -> _Frame:
        """temporal_buffer (abstract_map_dataset.py:719-817):
        start -= inc; end = coalesce(end, start) + inc — instants
        become intervals spanning ±inc."""
        num, unit = self._increment(arg)
        df = frame.df
        base_end = self._end_of(df)
        out = df.withColumn(
            "__new_end", self._shift_ts(F.coalesce(base_end, F.col("__time")), num, unit)
        ).withColumn("__time", self._shift_ts(F.col("__time"), -num, unit))
        out = out.drop("__end").withColumnRenamed("__new_end", "__end")
        # keep column order stable: keys, __time, __end, __val
        return _Frame(out.select(*self.keys, "__time", "__end", "__val"))

    def _tsnap(self, frame: _Frame) -> _Frame:
        """snap_map_list inside an expression
        (abstract_space_time_dataset.py:2099-2274 via
        temporal_algebra.py:3272-3289): end := next start per key;
        equal starts inherit the *next* granule's end (the reference
        clobbers ``end`` with the next map's end before the equal-start
        branch — :2182-2198); the last granule keeps its end."""
        from pyspark.sql import Window

        df = frame.df
        has_end = "__end" in df.columns
        w = Window.partitionBy(*self.keys).orderBy(
            "__time", *(["__end"] if has_end else [])
        )
        nxt_start = F.lead("__time").over(w)
        own_end = self._end_of(df)
        nxt_end = F.lead(own_end).over(w)
        new_end = (
            F.when(nxt_start.isNull(), own_end)
            .when(nxt_start != F.col("__time"), nxt_start)
            .otherwise(nxt_end)
        )
        out = df.withColumn("__snap_end", new_end)
        if has_end:
            out = out.drop("__end")
        out = out.withColumnRenamed("__snap_end", "__end")
        return _Frame(out.select(*self.keys, "__time", "__end", "__val"))

    def _tshift(self, frame: _Frame, arg) -> _Frame:
        num, unit = self._increment(arg)
        df = frame.df
        out = df.withColumn("__time", self._shift_ts(F.col("__time"), num, unit))
        if "__end" in df.columns:
            out = out.withColumn(
                "__end",
                F.when(
                    F.col("__end").isNotNull(),
                    self._shift_ts(F.col("__end"), num, unit),
                ),
            )
        return _Frame(out)

    def _call(self, node: Call, env):
        name = node.fn
        if name == "null":
            return _Scalar(F.lit(None).cast("double"))
        if name in _TIME_FNS:
            if len(node.args) == 2:
                # neighbour indexing: start_doy(A, -1) = the accessor of
                # the t-th neighbouring granule in A's series, attached
                # to the current granule's extent; out-of-range granules
                # drop (p_expr_time_const, temporal_algebra.py:3330-3369)
                return self._time_const(name, node.args, env)
            if len(node.args) == 1:
                # dataset-anchored accessor — td(A), start_date(B), … —
                # builds a CONDITION DATASET over that dataset's own
                # granules (the reference's GlobalTemporalVar map lists,
                # temporal_algebra.py:2156-2177): the value is the
                # accessor of A's extents, and relation-parameterized
                # comparisons / ifs then join it by topology
                frame = self._eval(node.args[0], env)
                if not isinstance(frame, _Frame):
                    raise ValueError(f"{name}(A) takes a dataset")
                expr = _TIME_FNS[name](F.col("__time"), self._end_of(frame.df))
                return _Frame(
                    frame.df.withColumn("__val", expr), value_free=True
                )
            # td()/end_*() resolve __end at join time — interval datasets only
            return _Scalar(
                _TIME_FNS[name](F.col("__time"), F.col("__end")), time_dep=True
            )
        if name == "map":
            # map(name): a single raster map without a timestamp — a
            # timeless constant in the transcript domain
            # (temporal_raster_base_algebra map() / p_expr_map_function).
            # The same env entry may also feed tmap() (the reference's
            # test_tmap_map uses one map both ways), so a single-map
            # FRAME is accepted too: its one distinct value becomes the
            # constant, the temporal extent is discarded.
            if len(node.args) != 1:
                raise ValueError("map(X) takes one name")
            v = self._eval(node.args[0], env)
            if isinstance(v, _Frame):
                vals = [
                    r[0]
                    for r in v.df.select("__val")
                    .where(F.col("__val").isNotNull())
                    .distinct()
                    .limit(2)
                    .collect()  # bounded: 2 rows max
                ]
                if len(vals) != 1:
                    raise ValueError(
                        "map() over a dataset needs exactly one distinct "
                        "value (a single timeless map)"
                    )
                return _Scalar(F.lit(float(vals[0])))
            return v
        if name in ("tmap", "strds", "stvds", "str3ds"):
            # typed dataset constructors (conditional_functions table,
            # temporal_algebra.py:486-496; p_expr_tmap_function :2610,
            # p_expr_strds_function :2569): in the PLY grammar they
            # disambiguate map-vs-dataset names; here every env entry is
            # a frame, so they validate and pass through.  stvds/str3ds
            # (vector / 3D-raster datasets) erase to plain frames in the
            # transcript domain — the cross-type algebra semantics are
            # identical (unittests_temporal_algebra_mixed_stds.py)
            if len(node.args) != 1:
                raise ValueError(f"{name}(A) takes one dataset")
            frame = self._eval(node.args[0], env)
            if not isinstance(frame, _Frame):
                raise ValueError(f"{name}() takes a dataset")
            return frame
        if name == "merge":
            frames = [self._eval(a, env) for a in node.args]
            if not all(isinstance(f, _Frame) for f in frames):
                raise ValueError("merge() takes datasets")
            out = frames[0].df
            for f in frames[1:]:
                out = out.unionByName(f.df, allowMissingColumns=True)
            return _Frame(out)
        if name == "buff_t":
            if len(node.args) != 2:
                raise ValueError('buff_t(A, "n unit" | n)')
            frame = self._eval(node.args[0], env)
            if not isinstance(frame, _Frame):
                raise ValueError("buff_t() takes a dataset")
            return self._buff_t(frame, node.args[1])
        if name == "tsnap":
            if len(node.args) != 1:
                raise ValueError("tsnap(A)")
            frame = self._eval(node.args[0], env)
            if not isinstance(frame, _Frame):
                raise ValueError("tsnap() takes a dataset")
            return self._tsnap(frame)
        if name == "tshift":
            if len(node.args) != 2:
                raise ValueError('tshift(A, "n unit" | n)')
            frame = self._eval(node.args[0], env)
            if not isinstance(frame, _Frame):
                raise ValueError("tshift() takes a dataset")
            return self._tshift(frame, node.args[1])
        if name == "if":
            return self._if(node, env)
        if name in ("min", "max") and len(node.args) > 1:
            vals = [self._eval(a, env) for a in node.args]
            return self._nary(F.least if name == "min" else F.greatest, vals)
        if name == "pow" and len(node.args) == 2:
            vals = [self._eval(a, env) for a in node.args]
            return self._nary(F.pow, vals)
        if name in _SCALAR_FNS:
            (arg,) = [self._eval(a, env) for a in node.args] or [None]
            if isinstance(arg, _Frame):
                # wrapping a value-free expression keeps it value-free;
                # exist() is an s_var function (spatial class)
                return _Frame(
                    arg.df.withColumn("__val", _SCALAR_FNS[name](F.col("__val"))),
                    value_free=arg.value_free and name != "exist",
                )
            return _Scalar(_SCALAR_FNS[name](self._as_col(arg)), time_dep=arg.time_dep)
        # full r.mapcalc inventory fallback (graph, rand, bit ops,
        # n-variants, ... — functions/mapcalc.py)
        from grass_spark.functions.mapcalc import MAPCALC_FNS
        from grass_spark.functions.mapcalc import fn as mapcalc_fn

        if name in MAPCALC_FNS:
            vals = [self._eval(a, env) for a in node.args]
            return self._nary(lambda *cols: mapcalc_fn(name, *cols), vals)
        raise KeyError(f"unknown function {name!r}")

    def _time_const(self, name: str, args, env):
        from pyspark.sql import Window

        def as_int(node) -> int:
            if isinstance(node, Num):
                return int(node.v)
            if isinstance(node, Bin) and node.op == "-" and isinstance(node.a, Num) \
                    and node.a.v == 0 and isinstance(node.b, Num):
                return -int(node.b.v)
            raise ValueError(f"{name}(A, t): t must be an integer literal")

        frame = self._eval(args[0], env)
        if not isinstance(frame, _Frame):
            raise ValueError(f"{name}(A, t) takes a dataset")
        t = as_int(args[1])
        df = frame.df
        has_end = "__end" in df.columns
        w = Window.partitionBy(*self.keys).orderBy("__time")
        shift = (lambda c: F.lag(c, -t).over(w)) if t < 0 else (
            lambda c: F.lead(c, t).over(w))
        n_time = shift(F.col("__time"))
        n_end = shift(F.col("__end")) if has_end else F.lit(None).cast("timestamp")
        out = (
            df.withColumn("__n_time", n_time)
            .withColumn("__n_end", n_end)
            .where(F.col("__n_time").isNotNull())
            .withColumn(
                "__val",
                _TIME_FNS[name](F.col("__n_time"), F.col("__n_end")).cast("double"),
            )
            .drop("__n_time", "__n_end")
        )
        return _Frame(out)

    def _tindex(self, node: TIndex, env):
        """``A[t]``: per key, the value of the granule ``t`` steps away
        in start order, attached to the current granule's extent;
        granules with no such neighbour drop."""
        frame = self._eval(node.a, env)
        if not isinstance(frame, _Frame):
            raise ValueError("map indexing needs a dataset")
        t = node.t
        if t == 0:
            return frame
        w = Window.partitionBy(*self.keys).orderBy("__time")
        shifted = F.lag("__val", -t).over(w) if t < 0 else F.lead("__val", t).over(w)
        out = frame.df.withColumn("__val", shifted).where(F.col("__val").isNotNull())
        return _Frame(out)

    def _nary(self, fn, vals):
        frames = [v for v in vals if isinstance(v, _Frame)]
        if not frames:
            return _Scalar(
                fn(*[self._as_col(v) for v in vals]),
                time_dep=any(v.time_dep for v in vals),
            )
        base = frames[0].df
        cols = []
        for i, v in enumerate(vals):
            if isinstance(v, _Frame):
                if v.df is base:
                    cols.append(F.col("__val"))
                else:
                    r = v.df.select(
                        *self._join_cols(v.df), F.col("__val").alias(f"__v{i}")
                    )
                    base = base.join(r, on=self._join_cols(base), how="inner")
                    cols.append(F.col(f"__v{i}"))
            else:
                cols.append(self._as_col(v))
        out = base.withColumn("__val", fn(*cols))
        return _Frame(out.drop(*[c for c in out.columns if c.startswith("__v") and c not in ("__val", "__time")]))

    def _if(self, node: Call, env):
        if len(node.args) not in (2, 3):
            raise ValueError("if(cond, then[, else])")
        cond = self._eval(node.args[0], env)
        then = self._eval(node.args[1], env)
        els = self._eval(node.args[2], env) if len(node.args) == 3 else None

        # --- time-variable condition: per-branch row filters ----------
        # if(start_dow() < 6, A, B): the reference evaluates the
        # condition against each branch's own granules and unions
        # then-rows-where-true with else-rows-where-false
        # (build_condition_list + eval_condition_list(inverse=True),
        # temporal_algebra.py:3130-3169).
        if isinstance(cond, _Scalar):
            if not isinstance(then, _Frame):
                raise ValueError("if() with a scalar condition needs a dataset branch")
            out = then.df.where(cond.col.cast("boolean"))
            if els is not None:
                if not isinstance(els, _Frame):
                    raise ValueError("if() else branch must be a dataset here")
                out = out.unionByName(
                    els.df.where(~cond.col.cast("boolean")),
                    allowMissingColumns=True,
                )
            return _Frame(out)

        # --- map-valued condition --------------------------------------
        if self.flavor == "raster" and not cond.value_free:
            # a condition that touches map VALUES (s_var_expr or mixed
            # ts_var_expr) runs the build_condition_cmd_list r.mapcalc
            # pipeline, whatever the conclusion shape; a PURE temporal
            # condition (t_var_expr: accessors, td(), # counts) instead
            # uses the base parser's selection productions below — false
            # maps are REMOVED, not 0-filled (pinned by
            # unittests_temporal_raster_algebra.py arith_if goldens: 3
            # maps for a t_var condition vs min 0 for an s_var one)
            return self._if_raster(cond, then, els, node.relations or ("equal",))
        # temporal form (then is a dataset, else absent or a dataset):
        # branch maps are selected by folding the booleans of ALL
        # related condition granules with all() — the default relation
        # is equal (assign_bool_value; comparison results under the 'r'
        # policy legitimately carry several rows per extent, so a plain
        # equal JOIN would duplicate branch rows where a fold is needed)
        if isinstance(then, _Frame) and (els is None or isinstance(els, _Frame)):
            return self._if_related(
                cond, then,
                els if els is not None else _Scalar(F.lit(None).cast("double")),
                node.relations or ("equal",),
            )
        if node.relations is not None and set(node.relations) != {"equal"}:
            return self._if_related(
                cond, then,
                els if els is not None else _Scalar(F.lit(None).cast("double")),
                node.relations,
            )
        # raster-mapcalc form (a scalar branch): per-granule VALUE
        # selection over the condition's own granules
        base = cond.df.withColumnRenamed("__val", "__cond")

        def attach(v, val_alias, flag_alias):
            """Returns (value col, matched col). Scalar branches always
            'match' — a literal exists for every granule."""
            nonlocal base
            if isinstance(v, _Frame):
                r = v.df.select(
                    *self._join_cols(v.df),
                    F.col("__val").alias(val_alias),
                    F.lit(True).alias(flag_alias),
                )
                base = base.join(r, on=self._join_cols(base), how="left")
                return F.col(val_alias), F.coalesce(F.col(flag_alias), F.lit(False))
            return self._as_col(v), F.lit(True)

        tcol, tmatch = attach(then, "__then", "__tm")
        # two-arg if: granules whose condition is False produce NOTHING
        # (the reference only emits maps selected from a branch list —
        # unittests_temporal_conditionals test_temporal_condition_1:
        # if(start_date(A) >= "2001-01-03", A) has 2 maps, not 4)
        if els is None:
            out = (
                base.where(F.col("__cond") & tmatch)
                .withColumn("__val", tcol)
                .drop("__cond")
            )
            return _Frame(out.drop("__then", "__tm"))
        ecol, ematch = attach(els, "__else", "__em")
        keep = F.when(F.col("__cond"), tmatch).otherwise(ematch)
        out = (
            base.where(keep)
            .withColumn("__val", F.when(F.col("__cond"), tcol).otherwise(ecol))
            .drop("__cond")
        )
        return _Frame(out.drop("__then", "__else", "__tm", "__em"))

    def _if_raster(self, cond: _Frame, then, els, relations):
        """Raster-algebra conditional — the ``build_condition_cmd_list``
        pipeline (temporal_raster_base_algebra.py:641-747), three
        stages:

        1. CONCLUSION merge.  map/map branches pair each then row with
           its EQUAL-related else row (``conclusion_topolist`` is always
           ``["EQUAL"]`` in every production, :1730-1736); then rows
           with no equal else DROP (``set_temporal_extent_list`` only
           records maps that found a related partner) — pinned by
           ``if(A > 1, A, D)`` keeping only the two A granules with an
           equal D granule (unittests_temporal_raster_conditionals.py
           test_spatial_conditional_3).  A numeric branch attaches as a
           constant to the other branch's rows; two numeric branches
           skip the merge (the conclusion is a command string,
           :714-732).
        2. CONDITION application under ``temporal='r'``: ONE OUTPUT ROW
           PER (condition, conclusion) relation pair, carrying the
           CONCLUSION extent (``set_temporal_extent_list`` regenerates
           ``map_new`` per related map under 'r', :601-612) — pinned by
           ``if({during}, exist(A), B - 1, B + 1)`` emitting four maps,
           each B extent twice (test_temporal_conditional_relation_1).
           The relation matches the topology builder's widened lists in
           EITHER orientation (cond⊃branch for the time-dimension-bug
           test, branch⊃cond for test_temporal_hash_operator4).
           For two numeric conclusions the output rows are the
           condition's own rows (:721-732).
        3. r.mapcalc value semantics: ``if(c, t)`` is 0 where c is
           false (test_spatial_conditional_1: min 0), NULL where c is
           NULL; all-NULL result maps are not registered, so rows whose
           value is NULL drop (``if(…, A, null())`` keeps only the true
           rows — test_spatial_conditional_2)."""
        from grass_spark.functions import relations as _rel

        nulld = F.lit(None).cast("double")

        def mapcalc_if(c: Column, t: Column, e: Column) -> Column:
            c = c.cast("boolean")
            return (
                F.when(c.isNull(), nulld)
                .when(c, t.cast("double"))
                .otherwise(e.cast("double"))
            )

        then_f = isinstance(then, _Frame)
        els_f = isinstance(els, _Frame)

        if not then_f and not els_f:
            # numeric/numeric: value over the condition's own granules
            tcol = self._as_col(then)
            ecol = self._as_col(els) if els is not None else F.lit(0.0)
            out = cond.df.withColumn(
                "__val", mapcalc_if(F.col("__val"), tcol, ecol)
            )
            return _Frame(out.where(F.col("__val").isNotNull()))

        # --- stage 1: conclusion rows with __then / __else columns ----
        if then_f and els_f:
            eq = self._equal_cols(then.df, els.df)
            if eq is not None:
                conc = then.df.withColumnRenamed("__val", "__then").join(
                    els.df.select(*eq, F.col("__val").alias("__else")),
                    on=eq,
                    how="inner",
                )
            else:  # mixed instant/interval frames: generic equal join
                bsel = self._b_side(els.df)
                conc = (
                    then.df.withColumnRenamed("__val", "__then")
                    .join(
                        bsel,
                        on=self._rel_cond(then.df, ("equal",)),
                        how="inner",
                    )
                    .withColumnRenamed("__val_r", "__else")
                    .drop(
                        "__b_time", "__b_end",
                        *[f"__b_{k}" for k in self.keys],
                    )
                )
        elif then_f:
            ecol = self._as_col(els) if els is not None else F.lit(0.0)
            conc = then.df.withColumnRenamed("__val", "__then").withColumn(
                "__else", ecol
            )
        else:
            conc = els.df.withColumnRenamed("__val", "__else").withColumn(
                "__then", self._as_col(then)
            )

        # --- stage 2: pair condition rows with conclusion rows --------
        csel = cond.df.select(
            *[F.col(k).alias(f"__c_{k}") for k in self.keys],
            F.col("__time").alias("__c_time"),
            self._end_of(cond.df).alias("__c_end"),
            F.col("__val").alias("__cval"),
        )
        c_t, c_e = F.col("__c_time"), F.col("__c_end")
        b_t, b_e = F.col("__time"), self._end_of(conc)
        rel_any = _rel.topo_any(
            list(relations), c_t, c_e, b_t, b_e
        ) | _rel.topo_any(list(relations), b_t, b_e, c_t, c_e)
        on = rel_any
        for k in self.keys:
            on = on & (F.col(k) == F.col(f"__c_{k}"))
        j = conc.join(csel, on=on, how="inner")

        # --- stage 3: per-pair value, drop all-NULL maps --------------
        out = j.withColumn(
            "__val",
            mapcalc_if(F.col("__cval"), F.col("__then"), F.col("__else")),
        ).drop(
            "__then", "__else", "__cval", "__c_time", "__c_end",
            *[f"__c_{k}" for k in self.keys],
        )
        return _Frame(out.where(F.col("__val").isNotNull()))

    def _if_related(self, cond: _Frame, then, els, relations):
        """``if({relations}, cond, then[, else])``
        (temporal_algebra.py:3097-3128, 3171-3230): each branch granule
        is compared to the condition granules related to it; all
        related must be true (``assign_bool_value``:
        ``all(condition_value_list)``).  Granules with NO related
        condition granule never enter the condition map list at all
        (``eval_map_list`` -> ``perform_temporal_selection`` returns
        only topology-list members), so they appear in NEITHER branch —
        verified by the reference's ``test_temporal_hash_operator2``
        (unittests_temporal_algebra.py:423-444: a1/a4 are unrelated to
        c1 and absent from the result)."""
        if not isinstance(then, _Frame):
            raise ValueError("if({rel}, …) then-branch must be a dataset")

        def flag(branch: DataFrame) -> DataFrame:
            csel = cond.df.select(
                *[F.col(k).alias(f"__b_{k}") for k in self.keys],
                F.col("__time").alias("__b_time"),
                self._end_of(cond.df).alias("__b_end"),
                F.col("__val").alias("__cval"),
            )
            j = branch.join(csel, on=self._rel_cond(branch, relations), how="left")
            ident = [*self.keys, "__time"] + (
                ["__end"] if "__end" in branch.columns else []
            )
            # NULL fold (no related condition granule) drops the row in
            # both branches' where() below
            return j.groupBy(*ident, F.col("__val")).agg(
                F.bool_and(F.col("__cval")).alias("__keep")
            )

        out = flag(then.df).where(F.col("__keep")).drop("__keep")
        if isinstance(els, _Frame):
            out = out.unionByName(
                flag(els.df).where(~F.col("__keep")).drop("__keep"),
                allowMissingColumns=True,
            )
        return _Frame(out)
