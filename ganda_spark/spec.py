"""Deterministic synthetic-workload spec shared by the Spark engine and the
DuckDB oracle.

The sandbox has no network, so "the web" is a pure function: every request's
status / latency / body derive from md5(url) exactly the same way in Spark
(conv(hex,16,10)) and DuckDB (('0x'||hex)::BIGINT). The status mix mirrors
the reference's own test servers: 404s are never retried
(requests/requests.go:99-101), 5xx are retried with exponential backoff
capped at 30 s (requests/requests.go:117-121), exhausted retries drop the
row from results (requests/requests.go:75-79,113-115). The echo body shape
mirrors echoserver.RequestEcho (echoserver/echoserver.go:18-29).

The seed frontier derives from the driver's `orders` table (TESTDATA.md) so
the oracle can reproduce it: skewed host distribution (one hot host ≈ 24% of
rows) to exercise salting, priorities 0-9 for the scheduler.
"""

from __future__ import annotations

# --- frontier derivation (FIXTURES.md §1: skewed hosts, priorities) ---
N_HOSTS = 37            # cold hosts: o_orderkey % N_HOSTS
HOT_HOST_MOD = 5        # o_orderkey % 5 == 0  ⇒  host 0 (the hot host)
PRIORITY_LEVELS = 10    # priority = o_custkey % 10

# --- mock web: d = hex2int(md5(url)[0:4]) % 100 ---
PCT_OK = 94             # d < 94          → 200 first try
PCT_NOT_FOUND = 97      # 94 <= d < 97    → 404 (never retried)
PCT_TRANSIENT = 99      # 97 <= d < 99    → 500 once, 200 on retry
                        # d == 99         → persistent 500 (retry-exhaust ⇒ drop)
LATENCY_HEX_OFFSET = 5  # latency_ms = 1 + hex2int(md5(url)[4:7]) % 200
LATENCY_MOD = 200

# --- echo body (deterministic echoserver stand-in, K4) ---
ECHO_TIME = "2026-01-01T00:00:00Z"
ECHO_REMOTE_IP = "127.0.0.1"
ECHO_USER_AGENT = "Go-http-client/1.1"

RETRY_DELAY_CAP_MS = 30_000  # requests/requests.go:117-121


def hex2int(dialect: str, hex_expr: str) -> str:
    """SQL fragment: hex string → BIGINT, identical value in both engines."""
    if dialect == "spark":
        return f"CAST(conv({hex_expr}, 16, 10) AS BIGINT)"
    if dialect == "duckdb":
        return f"CAST(('0x' || {hex_expr}) AS BIGINT)"
    raise ValueError(dialect)


def frontier_sql(dialect: str) -> str:
    """Seed-frontier derivation from `orders`, as a dialect-correct SELECT.

    Columns: seq, url, host, priority, context (array<string>).
    Identical row set in Spark and DuckDB by construction.
    """
    cast = "STRING" if dialect == "spark" else "VARCHAR"
    arr = "array" if dialect == "spark" else "list_value"
    return f"""
SELECT
  o_orderkey AS seq,
  concat('http://host-', CAST(host_id AS {cast}), '.test/order/',
         CAST(o_orderkey AS {cast})) AS url,
  concat('host-', CAST(host_id AS {cast}), '.test') AS host,
  CAST(o_custkey % {PRIORITY_LEVELS} AS INT) AS priority,
  {arr}(o_orderstatus, o_orderpriority) AS context
FROM (
  SELECT *,
         CASE WHEN o_orderkey % {HOT_HOST_MOD} = 0 THEN 0
              ELSE o_orderkey % {N_HOSTS} END AS host_id
  FROM orders
) o
"""


def fetch_outcome_sql(dialect: str, url_expr: str = "url", retries: int = 1) -> dict:
    """Dialect-correct SQL fragments for the mock-fetch outcome of `url_expr`.

    Keys: d, status_first, status_final, attempts, dropped, latency_ms.
    `dropped` = excluded from results after retry exhaustion
    (requests/requests.go:75-79,113-115).
    """
    d = f"({hex2int(dialect, f'substr(md5({url_expr}), 1, 4)')} % 100)"
    lat = (
        f"(1 + {hex2int(dialect, f'substr(md5({url_expr}), {LATENCY_HEX_OFFSET}, 3)')}"
        f" % {LATENCY_MOD})"
    )
    status_first = (
        f"CASE WHEN {d} < {PCT_OK} THEN 200 "
        f"WHEN {d} < {PCT_NOT_FOUND} THEN 404 ELSE 500 END"
    )
    if retries >= 1:
        status_final = (
            f"CASE WHEN {d} < {PCT_OK} THEN 200 "
            f"WHEN {d} < {PCT_NOT_FOUND} THEN 404 "
            f"WHEN {d} < {PCT_TRANSIENT} THEN 200 ELSE 500 END"
        )
        attempts = (
            f"CASE WHEN {d} < {PCT_NOT_FOUND} THEN 1 "
            f"WHEN {d} < {PCT_TRANSIENT} THEN 2 ELSE {retries + 1} END"
        )
        dropped = f"({d} >= {PCT_TRANSIENT})"
    else:
        status_final = status_first
        attempts = "1"
        dropped = f"({d} >= {PCT_NOT_FOUND})"
    return {
        "d": d,
        "status_first": status_first,
        "status_final": status_final,
        "attempts": attempts,
        "dropped": dropped,
        "latency_ms": lat,
    }


# literal JSON pieces of the echo body (compact marshal of RequestEcho,
# echoserver/echoserver.go:18-29,85-101) — concat(P1, host, P2, path, P3)
ECHO_P1 = (
    '{"time":"' + ECHO_TIME + '","id":"","remote_ip":"' + ECHO_REMOTE_IP
    + '","host":"'
)
ECHO_P2_FMT = '","method":"{method}","uri":"'
ECHO_P3 = (
    '","user_agent":"' + ECHO_USER_AGENT + '","status":200,'
    '"headers":{"Connection":"keep-alive"},"request_body":""}'
)


def _sql_quote(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


def echo_body_sql(
    dialect: str,
    url_expr: str = "url",
    host_expr: str = "host",
    method: str = "GET",
) -> str:
    """The deterministic echo-JSON body as a concat both engines compute
    identically."""
    # uri = path + query (Go RequestURI semantics), identical both dialects
    if dialect == "spark":
        path = f"regexp_replace({url_expr}, '^https?://[^/]+', '')"
    else:
        path = f"regexp_replace({url_expr}, '^https?://[^/]+', '')"
    return (
        "concat("
        + _sql_quote(ECHO_P1) + f", {host_expr}, "
        + _sql_quote(ECHO_P2_FMT.format(method=method)) + f", {path}, "
        + _sql_quote(ECHO_P3) + ")"
    )
