"""Analyst queries over a results table the engine's sink wrote.

One request is what a UI call does: compile an SML filter
(``compile_query_filter``), read the committed table (``read_committed``),
run one ``plans.analytics`` operator and collect the answer. Every answer
is compared with DuckDB over the committed parquet files.
"""

from __future__ import annotations

import numpy as np

import check

# (SML filter, the same predicate in DuckDB SQL)
FILTERS = (
    ("DidDeclareVerdict(verdict='spam')", "list_contains(__verdicts, 'spam')"),
    ("Role == 'user' and NumUrls > 0", "Role = 'user' AND NumUrls > 0"),
    ("NumTokens >= 12 or DidDeclareVerdict(verdict='review')", "NumTokens >= 12 OR list_contains(__verdicts, 'review')"),
    ("HasHello", "HasHello"),
)
FILTER_TYPES = {"Role": "str", "NumUrls": "int", "NumTokens": "int", "HasHello": "bool"}
KINDS = ("topn", "topn_pop", "timeseries", "scan", "distinct", "fetch")
METRICS = ("topn_s", "topn_pop_s", "timeseries_s", "scan_s", "distinct_s", "fetch_s")


class Analyst:
    """A closed loop of one analyst over ``sink``'s committed table."""

    def __init__(self, spark, sink, seed: int, tracer):
        self.spark = spark
        self.sink = sink
        self.tracer = tracer
        self.rng = np.random.default_rng(seed)
        self.con = check.duckdb_table(sink)
        self.ids = sorted(r[0] for r in self.con.execute("SELECT __action_id FROM t").fetchall())
        self.answers: list[tuple] = []
        self.errors: list[str] = []

    def request(self, kind: str) -> None:
        from osprey_spark.compiler import compile_query_filter
        from osprey_spark.plans import analytics

        rng, t = self.rng, self.tracer
        text, sql = FILTERS[rng.integers(len(FILTERS))]
        hour = int(rng.integers(1, 6))
        p = {
            "dim": ("Role", "ConvId", "Cohort")[rng.integers(3)],
            "start": f"2024-01-01 {hour:02d}:00:00",
            "end": f"2024-01-01 {hour + 1:02d}:00:00",
            "grain": ("hour", "minute")[rng.integers(2)],
            "by_role": bool(rng.integers(2)),
            "cursor": f"2024-01-01 {hour:02d}:{int(rng.integers(60)):02d}:00",
            "id": int(self.ids[rng.integers(len(self.ids))]),
        }
        pred = t.call("compiler.query_filter", compile_query_filter, text, FILTER_TYPES)
        df = t.call("sink.read_committed", self.sink.read_committed, self.spark)
        group = "Role" if p["by_role"] else None
        if kind == "topn":
            q = analytics.topn(df, p["dim"], limit=10, where=pred)
        elif kind == "topn_pop":
            q = analytics.topn_pop(df, p["dim"], "ts", p["start"], p["end"], limit=10, where=pred)
        elif kind == "timeseries":
            q = analytics.timeseries(df, "ts", p["grain"], group, where=pred)
        elif kind == "scan":
            q = analytics.paginated_scan(df, "ts", p["cursor"], 100, ["conv_id", "turn_idx", "ts"], where=pred)
        elif kind == "distinct":
            q = analytics.approx_distinct(df.filter(pred), "ConvId", 0.05, group)
        else:
            q = analytics.fetch_event(df, p["id"]).select("conv_id", "turn_idx", "__verdicts")
        rows = t.call(f"analytics.{kind}", q.collect)
        self.answers.append((kind, sql, p, [tuple(r) for r in rows]))

    def rounds(self, n: int) -> None:
        """``n`` rounds of every query kind. The next request is sent when
        the previous one returned."""
        for k in range(n * len(KINDS)):
            kind = KINDS[k % len(KINDS)]
            try:
                self.request(kind)
            except Exception as e:  # noqa: BLE001 - a failed query is counted
                self.errors.append(f"{kind} raised {e!r}")

    def problems(self) -> list[str]:
        out = list(self.errors)
        for a in self.answers:
            out += check_answer(self.con, *a)
        return out


def check_answer(con, kind: str, where: str, p: dict, got: list) -> list[str]:
    """Compare one answer with DuckDB over the committed files."""
    if kind == "topn":
        sql = f"SELECT {p['dim']}, count(*) n FROM t WHERE {where} GROUP BY 1 ORDER BY n DESC, 1 LIMIT 10"
    elif kind == "topn_pop":
        cur = f"(ts >= TIMESTAMP '{p['start']}' AND ts < TIMESTAMP '{p['end']}')"
        prev = f"(ts >= TIMESTAMP '{p['start']}' - INTERVAL 1 HOUR AND ts < TIMESTAMP '{p['start']}')"
        sql = (
            f"SELECT {p['dim']}, sum(CASE WHEN {cur} THEN 1 ELSE 0 END) c, "
            f"sum(CASE WHEN {prev} THEN 1 ELSE 0 END) pr FROM t WHERE ({where}) AND ({cur} OR {prev}) "
            "GROUP BY 1 HAVING c > 0 ORDER BY c DESC, 1 LIMIT 10"
        )
        got = [r[:3] for r in got]
    elif kind == "timeseries":
        dim = ", Role" if p["by_role"] else ""
        sql = f"SELECT date_trunc('{p['grain']}', ts) b{dim}, count(*) FROM t WHERE {where} GROUP BY ALL ORDER BY ALL"
    elif kind == "scan":
        sql = f"SELECT ts FROM t WHERE ({where}) AND ts < TIMESTAMP '{p['cursor']}' ORDER BY ts DESC LIMIT 100"
        want = [r[0] for r in con.execute(sql).fetchall()]
        keys = {
            (r[0], r[1])
            for r in con.execute(
                f"SELECT conv_id, turn_idx FROM t WHERE ({where}) AND ts < TIMESTAMP '{p['cursor']}'"
                f" AND ts >= TIMESTAMP '{want[-1]}'" if want else "SELECT NULL, NULL WHERE false"
            ).fetchall()
        }
        ok = [r[2] for r in got] == want and all((r[0], r[1]) in keys for r in got)
        return [] if ok else [f"scan {p} differs from DuckDB"]
    elif kind == "distinct":
        grp = "Role" if p["by_role"] else "NULL"
        sql = f"SELECT {grp}, count(DISTINCT ConvId) FROM t WHERE {where} GROUP BY 1 ORDER BY 1"
        want = con.execute(sql).fetchall()
        got = [r if p["by_role"] else (None, r[0]) for r in got]
        # HyperLogLog++ at rsd 0.05: three standard errors, plus one for
        # the small counts it estimates almost exactly
        ok = len(got) == len(want) and all(
            g[0] == w[0] and abs(g[1] - w[1]) <= 0.15 * w[1] + 1 for g, w in zip(got, want)
        )
        return [] if ok else [f"distinct {p}: {got} vs DuckDB {want}"]
    else:
        sql = f"SELECT conv_id, turn_idx, __verdicts FROM t WHERE __action_id = {p['id']}"
        got = [(r[0], r[1], list(r[2])) for r in got]
    want = [tuple(r) for r in con.execute(sql).fetchall()]
    if kind == "fetch":
        want = [(r[0], r[1], list(r[2])) for r in want]
    return [] if [tuple(r) for r in got] == want else [f"{kind} {p} where {where}: {got[:3]} vs DuckDB {want[:3]}"]
