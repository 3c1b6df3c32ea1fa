"""Result checks: each op's result against a DuckDB evaluation of the
same question over the same generated parquet files.

Every checked result is exact (ranges, histograms, nextK pages, verified
heavy hitters, counts) and must match value for value. A named query is
checked twice: the rows its warm-up pass collects against the rows of
its `SparkEntry.oracleSql` (columns matched by name, rows in any order),
and the count of every timed pass against their number.
"""
import decimal
import math
import os

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


# gesture kinds with a check of their own; any other kind is a named query
GESTURES = ("data_range", "histogram_cdf", "zoom_histogram", "progressive", "next_k",
            "heavy_hitters", "summary")


def connect(data_dir):
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    con.execute("SET enable_progress_bar = false")
    for t in TABLES:
        if os.path.exists(f"{data_dir}/{t}.parquet"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    return con


def dbl(x):
    return f"CAST('{float(x)!r}' AS DOUBLE)"


def bucket_sql(c, lo, hi, n):
    """graft.operators.Histograms.numericBucket, replayed bit for bit."""
    step = (hi - lo) / float(n)
    return f"least(floor(({c} - {dbl(lo)}) / {dbl(step)}), {n - 1})::INTEGER"


def close(a, b, rel=1e-9, abs_tol=1e-9):
    if isinstance(a, str) or isinstance(b, str) or a is None or b is None:
        return a == b
    return math.isclose(float(a), float(b), rel_tol=rel, abs_tol=abs_tol)


def value(x):
    """A result value as both engines' rows are compared: numbers as
    floats (DuckDB decimals and Spark longs alike), the rest as is."""
    if isinstance(x, (int, float, decimal.Decimal)) and not isinstance(x, bool):
        return float(x)
    return x


def sort_key(row):
    return [(x is None, isinstance(x, str), x if isinstance(x, (str, float)) else repr(x))
            for x in row]


def same_rows(got, want, ordered, **tol):
    got = [list(r) for r in got]
    want = [list(r) for r in want]
    if not ordered:
        got, want = sorted(got, key=repr), sorted(want, key=repr)
    return len(got) == len(want) and all(
        len(g) == len(w) and all(close(x, y, **tol) for x, y in zip(g, w))
        for g, w in zip(got, want))


class Oracle:
    """Checks op results; answers are cached per op key, so a repeated
    op costs one DuckDB evaluation."""

    def __init__(self, data_dir, meta):
        self.con = connect(data_dir)
        self.meta = meta
        self.cache = {}
        self.named = {}

    def q(self, sql):
        return [list(r) for r in self.con.execute(sql).fetchall()]

    def check(self, op):
        """True / False for a checked result, None for ops without one
        (map gestures, whose result is a new view)."""
        kind = op["params"].get("of", op["kind"])
        if kind in ("filter", "round_error"):
            return None
        key = op["key"]
        if key not in self.cache:
            check = getattr(self, kind) if kind in GESTURES else self.named_query
            self.cache[key] = check(op)
        return self.cache[key](op["rows"])

    # ── gesture_session (over lineitem, under the gesture's filter) ──
    def _where(self, p, extra=None):
        preds = [p["pred"]] + ([extra] if extra else [])
        return "WHERE " + " AND ".join(f"({x})" for x in preds)

    def data_range(self, op):
        p = op["params"]
        c = p["col"]
        want = self.q(f"SELECT min({c}), max({c}), count({c}), count(*) - count({c}) "
                      f"FROM lineitem {self._where(p)}")
        return lambda got: same_rows(got, want, True)

    def _hist_cdf(self, table, c, lo, hi, n, where):
        return self.q(
            f"SELECT b, cnt, sum(cnt) OVER (ORDER BY b ROWS BETWEEN UNBOUNDED PRECEDING "
            f"AND CURRENT ROW) FROM (SELECT {bucket_sql(c, lo, hi, n)} AS b, count(*) AS cnt "
            f"FROM {table} {where} GROUP BY 1) ORDER BY b")

    def histogram_cdf(self, op):
        p = op["params"]
        want = self._hist_cdf("lineitem", p["col"], p["lo"], p["hi"], p["n"], self._where(p))
        return lambda got: same_rows(got, want, False)

    def zoom_histogram(self, op):
        p = op["params"]
        want = self._hist_cdf("lineitem", p["col"], p["lo"], p["hi"], p["n"],
                              self._where(p, p["zpred"]))
        return lambda got: same_rows(got, want, False)

    def progressive(self, op):
        p = op["params"]
        want = self.q(f"SELECT {bucket_sql(p['col'], p['lo'], p['hi'], p['n'])} AS b, "
                      f"count(*) FROM lineitem {self._where(p, p.get('zpred'))} "
                      f"GROUP BY 1 ORDER BY 1")
        return lambda got: same_rows(got, want, True)

    def next_k(self, op):
        p = op["params"]
        c, pivot = p["col"], dbl(p["pivot"])
        want = self.q(f"SELECT {c}, l_orderkey, count(*) FROM lineitem {self._where(p)} AND "
                      f"({c} > {pivot} OR ({c} = {pivot} AND l_orderkey >= 0)) "
                      f"GROUP BY 1, 2 ORDER BY 1, 2 LIMIT {p['k']}")
        return lambda got: same_rows(got, want, True)

    def heavy_hitters(self, op):
        p = op["params"]
        where = self._where(p)
        cols = ", ".join(p["cols"])
        total = self.q(f"SELECT count(*) FROM lineitem {where}")[0][0]
        threshold = math.ceil(p["eps"] * total)
        want = self.q(f"SELECT {cols}, count(*) AS cnt FROM lineitem {where} GROUP BY {cols} "
                      f"HAVING count(*) >= {threshold} ORDER BY cnt DESC, {cols}")
        return lambda got: same_rows(got, want, True)

    def summary(self, op):
        want = self.q(f"SELECT count(*) FROM lineitem {self._where(op['params'])}")
        return lambda got: same_rows(got, want, True)

    # ── pipeline_tail: the named query's rows (warm-up) or count (timed) ──
    def named_query(self, op):
        name = op["kind"]
        if name not in self.named:
            sql = self.meta.get("oracle_sql", {}).get(name)
            if sql is None:
                raise KeyError(f"no oracle SQL for {name}")
            cur = self.con.execute(sql)
            self.named[name] = ([d[0] for d in cur.description], cur.fetchall())
        cols, want = self.named[name]
        if op["key"].endswith("|collect"):
            return lambda got: same_columns_and_rows(got[0], got[1:], cols, want)
        return lambda got: same_rows(got, [[len(want)]], True)


def same_columns_and_rows(got_cols, got, want_cols, want):
    """Rows of two engines, columns matched by name, rows in any order."""
    if sorted(got_cols) != sorted(want_cols):
        return False

    def canon(cols, rows):
        order = sorted(range(len(cols)), key=lambda i: cols[i])
        return sorted(([value(r[i]) for i in order] for r in rows), key=sort_key)
    return same_rows(canon(got_cols, got), canon(want_cols, want), True)
