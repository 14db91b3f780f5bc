"""DuckDB reference checks for the benchmark's outputs.

Each check recomputes what the engine wrote from the workload's input with
plain SQL and compares. A check returns (ok, detail, input_properties).
"""
import glob
import os

import duckdb

TOOL_CALL = r"^CALL tool=(\w+) args=(\{.*\}) dur_ms=(\d+)$"
STATUS = r"^(TRACE|DEBUG|INFO|WARN|ERROR|FATAL) \[([\w.-]+)\] (.*)$"
KV = r"^(\w+=[^ ]+( \w+=[^ ]+)*)$"

# The flagship parse bank over a transcripts relation `t`: first
# matching pattern wins; `level` is read only from a status line.
PARSED_SQL = f"""
  SELECT role, tool, ts,
    CASE WHEN regexp_matches(text, '{TOOL_CALL}') THEN 'tool_call'
         WHEN regexp_matches(text, '{STATUS}') THEN 'status'
         WHEN regexp_matches(text, '{KV}') THEN 'kv' END AS pattern,
    regexp_extract(text, '{STATUS}', 1) AS level
  FROM t
"""

# Then the multi-match routes: one row per (turn, matched route), and the
# default route for turns no route matches.
ROUTED_SQL = f"""
WITH r AS (
  SELECT *,
    coalesce(tool <> '' AND pattern = 'tool_call', false) AS r_tool,
    coalesce(pattern = 'status' AND level IN ('ERROR', 'FATAL'), false) AS r_err,
    coalesce(role = 'user', false) AS r_user
  FROM ({PARSED_SQL})
)
SELECT 'tool_calls' AS route, ts, role FROM r WHERE r_tool
UNION ALL SELECT 'errors', ts, role FROM r WHERE r_err
UNION ALL SELECT 'user_turns', ts, role FROM r WHERE r_user
UNION ALL SELECT 'default', ts, role FROM r
  WHERE NOT r_tool AND NOT r_err AND NOT r_user
"""


def connect(work):
    con = duckdb.connect()
    con.execute("SET memory_limit='1GB'")
    con.execute("SET threads=2")
    tmp = os.path.join(work, "duckdb_tmp")
    os.makedirs(tmp, exist_ok=True)
    con.execute(f"SET temp_directory='{tmp}'")
    con.execute("SET TimeZone='UTC'")
    return con


def parquet(path):
    return f"read_parquet('{path}/**/*.parquet', hive_partitioning = false)"


def transcript_props(con):
    """Input properties of the transcripts relation `t` (needs `routed`)."""
    n = con.execute("SELECT count(*) FROM t").fetchone()[0]
    mix = dict(con.execute(
        f"SELECT coalesce(pattern, 'none'), count(*) FROM ({PARSED_SQL}) GROUP BY 1").fetchall())
    exploded = con.execute("SELECT count(*) FROM routed").fetchone()[0]
    hot = con.execute(
        "SELECT max(c) FROM (SELECT count(*) AS c FROM t GROUP BY conv_id)").fetchone()[0]
    return {
        "turns": n,
        "pattern_mix": {k: round(v / n, 4) for k, v in sorted(mix.items())},
        "multi_match_rate": round(exploded / n - 1.0, 4) if n else 0.0,
        "hot_share": round(hot / n, 4) if n else 0.0,
    }


def sink_rows(con, sinks_dir):
    files = glob.glob(os.path.join(sinks_dir, "**", "*.parquet"), recursive=True)
    out = {}
    for f in files:
        rel = os.path.relpath(f, sinks_dir).split(os.sep)[0]
        route = rel.split("=", 1)[1] if rel.startswith("route=") else rel
        out[route] = out.get(route, 0) + con.execute(
            f"SELECT count(*) FROM read_parquet('{f}')").fetchone()[0]
    return out


def check_backfill(work, c):
    con = connect(work)
    con.execute(f"CREATE VIEW t AS SELECT * FROM {parquet(c['input'])}")
    con.execute(f"CREATE TABLE routed AS {ROUTED_SQL}")
    props = transcript_props(con)
    want = dict(con.execute("SELECT route, count(*) FROM routed GROUP BY 1").fetchall())
    got = sink_rows(con, os.path.join(c["out"], "sinks"))
    problems = []
    if {k: v for k, v in got.items() if v} != {k: v for k, v in want.items() if v}:
        problems.append(f"sink rows {got} != {want}")
    for route in ("tool_calls", "errors", "user_turns", "default"):
        d = os.path.join(c["out"], f"counts_{route}")
        if not os.path.isdir(d):
            problems.append(f"counts_{route} missing")
            continue
        diff = con.execute(f"""
          WITH want AS (
            SELECT CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT) AS w, role, count(*) AS n
            FROM routed WHERE route = '{route}' GROUP BY 1, 2),
          got AS (
            SELECT CAST(epoch(window_start) AS BIGINT) AS w, role, "count" AS n
            FROM {parquet(d)})
          SELECT (SELECT count(*) FROM (SELECT * FROM want EXCEPT ALL SELECT * FROM got))
               + (SELECT count(*) FROM (SELECT * FROM got EXCEPT ALL SELECT * FROM want))
        """).fetchone()[0]
        if diff:
            problems.append(f"counts_{route}: {diff} rows differ")
    return not problems, "; ".join(problems), props


def check_resume(work, c):
    con = connect(work)
    problems = []
    a = sink_rows(con, os.path.join(c["resumed"], "sinks"))
    b = sink_rows(con, os.path.join(c["reference"], "sinks"))
    if a != b:
        problems.append(f"resumed sink rows {a} != {b}")
    for route in ("tool_calls", "errors", "user_turns", "default"):
        ra = parquet(os.path.join(c["resumed"], f"counts_{route}"))
        rb = parquet(os.path.join(c["reference"], f"counts_{route}"))
        cols = "window_start, role, \"count\""
        diff = con.execute(f"""
          SELECT (SELECT count(*) FROM (SELECT {cols} FROM {ra} EXCEPT ALL SELECT {cols} FROM {rb}))
               + (SELECT count(*) FROM (SELECT {cols} FROM {rb} EXCEPT ALL SELECT {cols} FROM {ra}))
        """).fetchone()[0]
        if diff:
            problems.append(f"resumed counts_{route}: {diff} rows differ")
    return not problems, "; ".join(problems), {}


def check_stream(work, c):
    con = connect(work)
    landed = c["landed"]
    if not landed:
        return False, "no file landed", {}
    files = ", ".join(f"'{f}'" for f in landed)
    con.execute(f"CREATE VIEW t AS SELECT * FROM read_parquet([{files}])")
    con.execute(f"CREATE TABLE routed AS {ROUTED_SQL}")
    props = transcript_props(con)
    props["files"] = len(landed)
    want = dict(con.execute("SELECT route, count(*) FROM routed GROUP BY 1").fetchall())
    got = sink_rows(con, c["sinks"])
    if {k: v for k, v in got.items() if v} != {k: v for k, v in want.items() if v}:
        return False, f"sink rows {got} != {want}", props
    return True, "", props


def check_neardup(work, c):
    """Pair set against brute-force Jaccard over distinct-token sets (the
    d07 oracle, joined through a token index so that only pairs sharing
    a token are scored: every other pair has Jaccard 0), then groups
    against connected components of that pair set."""
    con = connect(work)
    con.execute(f"CREATE VIEW d AS SELECT * FROM {parquet(c['input'])}")
    th = float(c["threshold"])
    want = con.execute(f"""
      WITH tok AS (SELECT DISTINCT doc_id AS id, unnest(string_split(text, ' ')) AS w FROM d),
      len AS (SELECT id, count(*) AS n FROM tok GROUP BY id),
      inter AS (SELECT a.id AS id_a, b.id AS id_b, count(*) AS i
                FROM tok a JOIN tok b ON a.w = b.w AND a.id < b.id GROUP BY 1, 2)
      SELECT id_a, id_b, i / (la.n + lb.n - i) AS j
      FROM inter JOIN len la ON la.id = id_a JOIN len lb ON lb.id = id_b
      WHERE i / (la.n + lb.n - i) >= {th}
    """).fetchall()
    got = con.execute(
        f"SELECT id_a, id_b, jaccard FROM {parquet(os.path.join(c['out'], 'pairs'))}").fetchall()
    wmap = {(a, b): j for a, b, j in want}
    gmap = {(a, b): j for a, b, j in got}
    problems = []
    if len(gmap) != len(got):
        problems.append("duplicate pairs in output")
    if set(wmap) != set(gmap):
        problems.append(f"pair sets differ: {len(set(wmap) - set(gmap))} missing, "
                        f"{len(set(gmap) - set(wmap))} extra")
    elif any(abs(wmap[k] - gmap[k]) > 1e-9 for k in wmap):
        problems.append("jaccard values differ")
    # groups: connected components of the reference pairs, min id label
    parent = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x
    for a, b in wmap:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want_groups = {x: find(x) for x in parent}
    got_groups = dict(con.execute(
        f"SELECT id, \"group\" FROM {parquet(os.path.join(c['out'], 'groups'))}").fetchall())
    if want_groups != got_groups:
        problems.append("dedup groups differ from the components of the reference pairs")
    props = {"pairs": len(wmap), "groups": len(set(want_groups.values()))}
    return not problems, "; ".join(problems), props


CHECKS = {
    "backfill": check_backfill,
    "resume": check_resume,
    "stream": check_stream,
    "neardup": check_neardup,
}


def run_check(work, c):
    try:
        return CHECKS[c["kind"]](work, c)
    except Exception as e:  # a check that cannot run is a failed check
        return False, f"{c['kind']} check raised {e!r}", {}
