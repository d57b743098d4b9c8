"""DuckDB oracles: the engine's route and severity rules restated in
SQL over the fixture parquet, plus order-insensitive row checksums.

The SQL is written from the documented predicates (the log-line
grammar, the tool-payload status, the severity bands and the ordered
route table), never by calling the engine.
"""

from __future__ import annotations

# the log-line grammar, as the parse stage documents it
LOGLINE_RE = (
    r"^(\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2}Z) "
    r"(TRACE|DEBUG|INFO|WARN|ERROR|FATAL) "
    r"((?:\d{1,3}\.){3}\d{1,3}) "
    r"(GET|POST|PUT|DELETE|PATCH|HEAD) "
    r"(\S+) (\d{3}) (\d+)ms$"
)


def _lit(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


def transcript_routes(con, parquet_glob: str) -> dict[str, int]:
    """Expected per-route row counts of the flagship pipeline over a
    transcript table: severity from the log-line token, else ERROR for
    a tool payload with status "error", else INFO; routes in order
    alerts (severity >= WARN), tools (tool set), user (role = user),
    catchall."""
    sql = f"""
    WITH p AS (
      SELECT role, tool,
        CASE WHEN regexp_full_match(text, {_lit(LOGLINE_RE)})
             THEN split_part(text, ' ', 2) END AS log_sev,
        CASE WHEN role = 'tool' AND json_valid(text)
             THEN json_extract_string(text, '$.status') END AS status
      FROM read_parquet({_lit(parquet_glob)})
    ), s AS (
      SELECT role, tool,
        coalesce(log_sev, CASE WHEN status = 'error' THEN 'ERROR' END, 'INFO') AS sev
      FROM p
    )
    SELECT CASE WHEN sev IN ('WARN', 'ERROR', 'FATAL') THEN 'alerts'
                WHEN tool IS NOT NULL THEN 'tools'
                WHEN role = 'user' THEN 'user'
                ELSE 'catchall' END AS route,
           count(*) AS n
    FROM s GROUP BY 1
    """
    return {r: int(n) for r, n in con.execute(sql).fetchall()}


def text_checksum(con, parquet_glob: str, hive: bool = False) -> tuple[int, int]:
    """(rows, order-insensitive sum of hash(conv_id, turn_idx, text))."""
    src = f"read_parquet({_lit(parquet_glob)}, hive_partitioning = {str(hive).lower()})"
    n, s = con.execute(
        f"SELECT count(*), coalesce(sum(hash(conv_id, turn_idx, text)), 0) FROM {src}"
    ).fetchone()
    return int(n), int(s)


def route_counts(con, parquet_glob: str) -> dict[str, int]:
    """Per-route counts read back from a route-partitioned sink."""
    sql = (
        f"SELECT route, count(*) FROM read_parquet({_lit(parquet_glob)}, "
        "hive_partitioning = true) GROUP BY 1"
    )
    return {r: int(n) for r, n in con.execute(sql).fetchall()}


# --- sessions: the OTel-shaped fixture and its OTTL config --------------------

SEV_INFO, SEV_WARN, SEV_ERROR = 9, 13, 17


def session_expectations(con, parquet_glob: str, max_batch: int) -> dict[str, object]:
    """Expected outcome of the ``sessions`` config over its fixture:
    rows kept by the filter, per-route counts, and the number of
    recombined groups (a group starts at every row whose body does not
    begin with a space, per conversation by turn index, and is split
    every ``max_batch`` rows)."""
    base = f"""
    WITH t AS (
      SELECT conv_id, turn_idx, body,
        CASE WHEN element_at(attributes, 'tool')[1] IS NOT NULL
                  AND regexp_matches(body, 'status.:.error')
             THEN {SEV_ERROR} ELSE severity_number END AS sev,
        element_at(attributes, 'tool')[1] AS tool,
        element_at(attributes, 'role')[1] AS role
      FROM read_parquet({_lit(parquet_glob)})
    ), k AS (SELECT * FROM t WHERE sev >= {SEV_INFO})
    """
    routes = con.execute(
        base
        + f"""
    SELECT CASE WHEN sev >= {SEV_WARN} THEN 'alerts'
                WHEN tool IS NOT NULL THEN 'tools'
                WHEN role = 'user' THEN 'user'
                ELSE 'catchall' END, count(*)
    FROM k GROUP BY 1"""
    ).fetchall()
    groups = con.execute(
        base
        + f"""
    , g AS (
      SELECT conv_id,
        sum(CASE WHEN body LIKE ' %' THEN 0 ELSE 1 END)
          OVER (PARTITION BY conv_id ORDER BY turn_idx
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
      FROM k
    ), sizes AS (SELECT conv_id, grp, count(*) AS n FROM g GROUP BY 1, 2)
    SELECT coalesce(sum(CAST(ceil(n / {max_batch}) AS BIGINT)), 0) FROM sizes"""
    ).fetchone()[0]
    total = con.execute(f"SELECT count(*) FROM read_parquet({_lit(parquet_glob)})").fetchone()[0]
    route_map = {r: int(n) for r, n in routes}
    return {
        "input": int(total),
        "kept": sum(route_map.values()),
        "routes": route_map,
        "groups": int(groups),
    }
