"""Shared-SQL dialect shim: one query text, two engines.

The driver's correctness gate runs our Spark query AND our oracle SQL
(DuckDB) side-by-side and hash-compares values.  The safest way to stay
bit-identical is to author ONE logical SQL text per query in the common
subset, and express the handful of divergent primitives through this
tiny templater.  Spark queries are then ``spark.sql(render(SPARK))`` and
oracles are ``render(DUCK)`` — semantics are shared by construction.

Only integer arithmetic, CAST, CASE, sqrt/floor/least/greatest, string
ops, window functions, CTEs and joins are used in shared texts; all are
identical across the engines.  Divergent primitives wrapped here:

    range lateral join   Spark LATERAL VIEW explode(sequence(..)) vs
                         DuckDB generate_series table function
    split / array ops    split vs string_split, size vs len, element_at
    bit shifts           shiftright() vs >>

The per-row formulas of the pages → exposure path are fragments of
this kind too, one text each, which the engine runs through
``selectExpr`` / ``F.expr`` and the oracles embed:

    url from doc id            sources/pages.url_sql
    capture time               sources/pages.capture_ts_sql
    html wrap / extraction     sources/pages.html_sql / text_sql
    page-id parse              sources/pages.page_id_sql
    geocode LCG (x, y)         world.xy_sql (via Dialect.lcg)
    NDVI mean / sd             operators/availability.ndvi_sql
    nearest park columns       operators/accessibility.nearest_sql
    squared distance (BIGINT)  Dialect.dist2 (numpy mirror:
                               kernels/exposure.nearest_d2)
    CDC status                 operators/pages_ops.cdc_status_sql
"""

from __future__ import annotations


class Dialect:
    name = "base"

    # -- scalar helpers (shared across engines) ---------------------------
    @staticmethod
    def floori(x: str) -> str:
        return f"CAST(FLOOR({x}) AS BIGINT)"

    @staticmethod
    def lcg(x: str, mul: int, add: int, mod: int) -> str:
        """(x * mul + add) % mod for a non-negative BIGINT x, with x
        reduced mod ``mod`` first so the product stays inside BIGINT
        (same value as the unreduced form)."""
        return f"(((({x}) % {mod}) * {mul} + {add}) % {mod})"

    def dist2(self, x: str, y: str, cx: str, cy: str) -> str:
        """BIGINT squared distance from (x, y) to (cx, cy): each
        difference truncated toward zero to BIGINT, then squared and
        added in BIGINT — exact for integer-valued coordinates, and
        the same value in both engines off them."""
        dx = self.trunc_long(f"({x}) - ({cx})")
        dy = self.trunc_long(f"({y}) - ({cy})")
        return f"({dx} * {dx} + {dy} * {dy})"

    # -- divergent primitives ---------------------------------------------
    def trunc_long(self, x: str) -> str:
        """BIGINT of a DOUBLE, truncated toward zero (Spark's CAST
        truncates, DuckDB's rounds: CAST(2.7 AS BIGINT) is 3 there)."""
        raise NotImplementedError

    def range_select(self, lo, hi, alias: str) -> str:
        """A FROM-able relation with one BIGINT column `alias` = lo..hi."""
        raise NotImplementedError

    def explode_range(self, inner: str, alias: str, lo: str, hi: str) -> str:
        """SELECT *, alias FROM (inner), one row per alias = lo..hi
        (correlated on inner's columns)."""
        raise NotImplementedError

    def split(self, col: str, delim: str = "' '") -> str:
        raise NotImplementedError

    def asize(self, arr: str) -> str:
        raise NotImplementedError

    def elem(self, arr: str, i: str) -> str:
        """1-based array element."""
        raise NotImplementedError

    def afilter(self, arr: str, var: str, pred: str) -> str:
        raise NotImplementedError

    def shr(self, x: str, n: str) -> str:
        raise NotImplementedError

    def idiv(self, a: str, b: str) -> str:
        """Integer division; non-negative operands only (Spark DIV
        truncates toward zero, DuckDB // floors — equal on >= 0)."""
        raise NotImplementedError

    def ts_micros(self, e: str) -> str:
        """TIMESTAMP from epoch microseconds (integer expression)."""
        raise NotImplementedError

    def s2b(self, s: str) -> str:
        """UTF-8 encode a string expression to binary/blob."""
        raise NotImplementedError

    def b2s(self, b: str) -> str:
        """UTF-8 decode a binary/blob expression to string."""
        raise NotImplementedError

    def starts(self, x: str, pfx: str) -> str:
        """Literal-prefix test (NOT LIKE: '_' and '%' in the prefix
        would be wildcards)."""
        raise NotImplementedError

    def ends(self, x: str, sfx: str) -> str:
        raise NotImplementedError

    def ajoin(self, arr: str, sep: str) -> str:
        """Join a string array with a separator."""
        raise NotImplementedError


class SparkDialect(Dialect):
    name = "spark"

    def trunc_long(self, x):
        return f"CAST({x} AS BIGINT)"

    def range_select(self, lo, hi, alias):
        return f"(SELECT explode(sequence({lo}, {hi})) AS {alias})"

    def explode_range(self, inner, alias, lo, hi):
        return (f"SELECT * FROM ({inner}) _er_{alias} "
                f"LATERAL VIEW explode(sequence({lo}, {hi})) _lv_{alias} AS {alias}")

    def split(self, col, delim="' '"):
        return f"split({col}, {delim})"

    def asize(self, arr):
        return f"size({arr})"

    def elem(self, arr, i):
        return f"element_at({arr}, CAST({i} AS INT))"

    def afilter(self, arr, var, pred):
        return f"filter({arr}, {var} -> {pred})"

    def shr(self, x, n):
        return f"shiftright({x}, CAST({n} AS INT))"

    def idiv(self, a, b):
        return f"(({a}) DIV ({b}))"

    def ts_micros(self, e):
        return f"timestamp_micros(CAST({e} AS BIGINT))"

    def s2b(self, s):
        return f"encode({s}, 'UTF-8')"

    def b2s(self, b):
        return f"decode({b}, 'UTF-8')"

    def starts(self, x, pfx):
        return f"startswith({x}, {pfx})"

    def ends(self, x, sfx):
        return f"endswith({x}, {sfx})"

    def ajoin(self, arr, sep):
        return f"array_join({arr}, {sep})"


class DuckDialect(Dialect):
    name = "duckdb"

    def trunc_long(self, x):
        return f"CAST(trunc({x}) AS BIGINT)"

    def range_select(self, lo, hi, alias):
        return f"(SELECT unnest(generate_series({lo}, {hi})) AS {alias})"

    def explode_range(self, inner, alias, lo, hi):
        return (f"SELECT *, unnest(generate_series(CAST({lo} AS BIGINT), "
                f"CAST({hi} AS BIGINT))) AS {alias} FROM ({inner}) _er_{alias}")

    def split(self, col, delim="' '"):
        return f"string_split({col}, {delim})"

    def asize(self, arr):
        return f"len({arr})"

    def elem(self, arr, i):
        return f"list_extract({arr}, CAST({i} AS INT))"

    def afilter(self, arr, var, pred):
        return f"list_filter({arr}, {var} -> {pred})"

    def shr(self, x, n):
        return f"(CAST({x} AS BIGINT) >> CAST({n} AS INT))"

    def idiv(self, a, b):
        return f"(({a}) // ({b}))"

    def ts_micros(self, e):
        return f"make_timestamp(CAST({e} AS BIGINT))"

    def s2b(self, s):
        return f"encode({s})"

    def b2s(self, b):
        return f"decode({b})"

    def starts(self, x, pfx):
        return f"starts_with({x}, {pfx})"

    def ends(self, x, sfx):
        return f"ends_with({x}, {sfx})"

    def ajoin(self, arr, sep):
        return f"array_to_string({arr}, {sep})"


SPARK = SparkDialect()
DUCK = DuckDialect()
