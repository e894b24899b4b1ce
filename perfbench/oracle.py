"""Correctness oracle: a DuckDB mirror of the live document set.

The mirror is fed the same generated inputs as the engine — upserts as
last-write-wins on the ns key, range deletes — and answers every seriesly
query with its own SQL, written from the reference semantics rather than
from the engine's plan:

  * a bucket appears iff a live document in range falls in it, before
    equality filters; a bucket whose documents are all filtered out still
    appears with empty-input values (sum/sumsq/c 0.0, count 0, lists [],
    min/max/avg/c_avg null);
  * a document passes iff every filter pointer is a non-null scalar equal
    to the filter value;
  * numeric reducers consume values that parse as a double (numeric
    strings included); ``count`` counts any non-null value;
  * rate reducers pair each parseable passing sample with the next one in
    key order, attributed to the earlier sample's bucket;
  * malformed bodies still mark their bucket but yield no values.

Values are compared with a float tolerance scaled by the magnitude of the
summed terms, since sums accumulate in a different order on each side.
"""

from __future__ import annotations

import json
import math

import duckdb
import pyarrow as pa

from seriesly_spark.plans.query import SerieslyQuery

_SENT = "\x01"
_RATE = {"c", "c_min", "c_avg", "c_max"}
REL_TOL = 1e-9


def _lit(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


class Mirror:
    def __init__(self, threads: int = 2):
        self.con = duckdb.connect()
        self.con.execute(f"SET threads={threads}")
        self.con.execute("CREATE TABLE docs (ts_ns BIGINT PRIMARY KEY, doc VARCHAR)")

    def close(self) -> None:
        self.con.close()

    # -- mutations ----------------------------------------------------------

    def upsert(self, rows: list[tuple[int, str]]) -> None:
        """One commit: later rows win over earlier rows and over stored
        documents with the same key."""
        last = dict(rows)
        batch = pa.table({"ts_ns": pa.array(list(last), pa.int64()),
                          "doc": pa.array(list(last.values()), pa.string())})
        self.con.register("batch", batch)
        self.con.execute("INSERT OR REPLACE INTO docs SELECT ts_ns, doc FROM batch")
        self.con.unregister("batch")

    def delete_range(self, lo: int, hi: int) -> None:
        self.con.execute("DELETE FROM docs WHERE ts_ns BETWEEN ? AND ?", [lo, hi])

    # -- reads --------------------------------------------------------------

    def count(self, lo: int | None = None, hi: int | None = None) -> int:
        lo = -(2**63) if lo is None else lo
        hi = 2**63 - 1 if hi is None else hi
        return self.con.execute(
            "SELECT count(*) FROM docs WHERE ts_ns BETWEEN ? AND ?", [lo, hi]
        ).fetchone()[0]

    def doc_bytes(self) -> int:
        """UTF-8 bytes of the live JSON bodies."""
        return self.con.execute(
            "SELECT coalesce(sum(octet_length(encode(doc))), 0) FROM docs"
        ).fetchone()[0]

    def query(self, q: SerieslyQuery) -> dict[str, tuple[list, list]]:
        """bucket-ms string -> (values, tolerance scales), one per field."""
        sql, n = _query_sql(q)
        out: dict[str, tuple[list, list]] = {}
        for row in self.con.execute(sql).fetchall():
            vals = [_restore(q.fields[i][1], row[1 + i]) for i in range(n)]
            scales = [row[1 + n + i] for i in range(n)]
            out[str(row[0])] = (vals, scales)
        return out

    def rollup(self, group_ms: int, pointer: str) -> dict[int, tuple[int, float | None]]:
        """bucket_ms -> (live doc count, sum of the pointer's numeric
        values or None) over every live document: what
        ``ContinuousRollup.read`` should hold after a refresh."""
        g = group_ms * 1_000_000
        rows = self.con.execute(f"""
            SELECT (ts_ns // {g}) * {group_ms} AS b, count(*),
                   sum(TRY_CAST(CASE WHEN json_valid(doc)
                       THEN json_extract_string(doc, {_lit(pointer)}) END AS DOUBLE))
            FROM docs GROUP BY b""").fetchall()
        return {b: (c, s) for b, c, s in rows}


def _restore(red: str, v):
    """Sentinel-encoded SQL lists -> the engine's JSON values."""
    if red in ("distinct", "identity"):
        return [None if x == _SENT else x for x in (v or [])]
    if red == "obj_keys":
        return list(v or [])
    return v


def _query_sql(q: SerieslyQuery) -> tuple[str, int]:
    g_ns = q.group_ms * 1_000_000
    ptrs: dict[str, str] = {}
    for p, _ in list(q.filters) + list(q.fields):
        ptrs.setdefault(p, f"e{len(ptrs)}")
    ext = ",\n".join(
        f"CASE WHEN ok THEN json_extract_string(doc, {_lit(p)}) END AS {c}"
        for p, c in ptrs.items()
    )
    conds = [
        f"({ptrs[p]} IS NOT NULL AND left({ptrs[p]}, 1) NOT IN ('{{', '[') "
        f"AND {ptrs[p]} = {_lit(v)})"
        for p, v in q.filters
    ]
    pass_expr = " AND ".join(conds) or "TRUE"
    lo = -(2**63) if q.from_ts is None else int(q.from_ts)
    hi = 2**63 - 1 if q.to_ts is None else int(q.to_ts)

    ctes = [
        f"""raw AS (SELECT ts_ns, doc, json_valid(doc) AS ok FROM docs
                    WHERE ts_ns BETWEEN {lo} AND {hi})""",
        f"""x AS (SELECT ts_ns, (ts_ns // {g_ns}) * {q.group_ms} AS bucket_ms, {ext}
                  FROM raw)""",
        f"p AS (SELECT *, {pass_expr} AS pass FROM x)",
    ]
    aggs, joins, finals, scales = [], [], [], []
    for i, (ptr, red) in enumerate(q.fields):
        v = ptrs[ptr]
        nv = f"TRY_CAST({v} AS DOUBLE)"
        f = "FILTER (WHERE pass)"
        if red in _RATE:
            ctes.append(f"""r{i} AS (
                SELECT (ts_ns // {g_ns}) * {q.group_ms} AS bucket_ms,
                       (x2 - x) / ((t2 - ts_ns) / 1e9) AS r
                FROM (SELECT ts_ns, x, lead(ts_ns) OVER w AS t2, lead(x) OVER w AS x2
                      FROM (SELECT ts_ns, {nv} AS x FROM p WHERE pass AND {nv} IS NOT NULL)
                      WINDOW w AS (ORDER BY ts_ns))
                WHERE t2 IS NOT NULL AND isfinite((x2 - x) / ((t2 - ts_ns) / 1e9)))""")
            agg = {"c": "sum(r)", "c_min": "min(r)", "c_avg": "avg(r)", "c_max": "max(r)"}[red]
            scale = {"c": "sum(abs(r))", "c_avg": "avg(abs(r))"}.get(red, "max(abs(r))")
            ctes.append(f"""a{i} AS (SELECT bucket_ms, {agg} AS v, {scale} AS s
                            FROM r{i} GROUP BY bucket_ms)""")
            joins.append(f"LEFT JOIN a{i} USING (bucket_ms)")
            finals.append(f"coalesce(a{i}.v, {'0.0' if red == 'c' else 'NULL'})")
            scales.append(f"a{i}.s")
            continue
        if red == "count":
            agg, scale = f"count({v}) {f}", "NULL"
        elif red in ("sum", "sumsq"):
            term = nv if red == "sum" else f"{nv} * {nv}"
            agg = f"CASE WHEN count({nv}) {f} = 0 THEN 0.0 ELSE sum({term}) {f} END"
            scale = f"sum(abs({term})) {f}"
        elif red in ("max", "min", "avg"):
            agg = f"{red}({nv}) {f}"
            scale = f"{'avg' if red == 'avg' else 'max'}(abs({nv})) {f}"
        elif red == "distinct":
            agg = (f"list_sort(list_distinct(list(CASE WHEN {v} IS NULL THEN chr(1) "
                   f"WHEN left({v}, 1) IN ('{{', '[') THEN NULL ELSE {v} END) {f}))")
            scale = "NULL"
        elif red == "identity":
            agg = f"list(coalesce({v}, chr(1)) ORDER BY ts_ns) {f}"
            scale = "NULL"
        elif red == "obj_keys":
            agg = (f"flatten(list(json_keys({v}) ORDER BY ts_ns) "
                   f"FILTER (WHERE pass AND left({v}, 1) = '{{'))")
            scale = "NULL"
        else:
            raise ValueError(f"oracle has no reducer {red!r}")
        aggs += [f"{agg} AS f{i}", f"{scale} AS s{i}"]
        finals.append(f"b.f{i}")
        scales.append(f"b.s{i}")
    sql = f"""
        WITH {", ".join(ctes)},
        b AS (SELECT bucket_ms{"".join(", " + a for a in aggs)} FROM p GROUP BY bucket_ms)
        SELECT bucket_ms, {", ".join(finals + scales)}
        FROM b {" ".join(joins)}
        ORDER BY bucket_ms"""
    return sql, len(q.fields)


# -- comparison -------------------------------------------------------------


def _close(a, b, scale) -> bool:
    if a is None or b is None:
        return a is None and b is None
    tol = REL_TOL * max(abs(float(b)), abs(float(scale or 0.0)), 1.0)
    return math.isclose(float(a), float(b), rel_tol=0.0, abs_tol=tol)


def check_result(q: SerieslyQuery, rendered: str, expected: dict) -> str | None:
    """None when the engine's rendered JSON matches the oracle, else a
    one-line description of the first difference."""
    got = json.loads(rendered)
    if set(got) != set(expected):
        missing = sorted(set(expected) - set(got))[:3]
        extra = sorted(set(got) - set(expected))[:3]
        return f"bucket sets differ: missing {missing} extra {extra}"
    for b, (want, scales) in expected.items():
        have = got[b]
        for i, (ptr, red) in enumerate(q.fields):
            h, w = have[i], want[i]
            if isinstance(w, list) or isinstance(h, list):
                ok = h == w
            elif red == "count":
                ok = h == w
            else:
                ok = _close(h, w, scales[i])
            if not ok:
                return f"bucket {b} field {i} {red}({ptr}): got {h!r} want {w!r}"
    return None


def check_rollup(rows, expected: dict) -> str | None:
    got = {int(r["bucket_ms"]): (int(r["cnt"]), r["sum_v"]) for r in rows}
    if set(got) != set(expected):
        return f"rollup buckets differ: {len(got)} vs {len(expected)}"
    for b, (cnt, s) in expected.items():
        gc, gs = got[b]
        if gc != cnt or not _close(gs, s, s):
            return f"rollup bucket {b}: got ({gc}, {gs}) want ({cnt}, {s})"
    return None
