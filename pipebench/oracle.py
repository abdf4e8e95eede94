"""Expected workload outputs, computed by DuckDB from the engine's oracle SQL.

The parse and router semantics come from ``timberjack_spark.plans.oracle`` (the
same SQL the query oracle uses), so a check here compares the engine against an
independent evaluation of the same corpus.

Large outputs (the report's line sample and unique-message list, the windowed
counts) are compared by a digest of their canonical JSON.
"""

from __future__ import annotations

import hashlib
import json
import os

from timberjack_spark.fixtures import DIM_ROLE_ROWS, DIM_TOOL_ROWS
from timberjack_spark.functions.patterns import MAX_STORED_LINES
from timberjack_spark.plans import oracle as osql


def digest(obj) -> str:
    return hashlib.sha256(json.dumps(obj, sort_keys=True, default=str).encode()).hexdigest()


def report_summary(doc: dict) -> dict:
    """The report document with its long lists replaced by (length, digest)."""
    st = doc["stats"]
    lines = [[m["line"], m["count"]] for m in doc["matched_lines"]]
    uniq = st["unique_messages"] or []
    return {
        "total_count": doc["total_count"],
        "matched_lines": [len(lines), digest(lines)],
        "time_trends": [[t["timestamp"], t["count"]] for t in doc["time_trends"]],
        "log_levels": [[lv["level"], lv["count"]] for lv in st["log_levels"]],
        "error_types": [[e["error_type"], e["count"], e["rank"]] for e in st["error_types"]],
        "unique_messages_count": st["unique_messages_count"],
        "repetition_ratio": round(st["repetition_ratio"], 9),
        "unique_messages": [len(uniq), digest(uniq)],
    }


def window_summary(rows) -> list:
    """Windowed level counts as a (length, digest) of sorted (start, level, count)."""
    canon = sorted([r[0].isoformat(), r[1], int(r[2])] for r in rows)
    return [len(canon), digest(canon)]


PARTS = ("counts", "report", "windows")


def expected(corpus: str, parts=PARTS) -> dict:
    """Expected outputs on the corpus directory: ``counts`` ((category, level)
    counts, text length, rows no dimension matches), ``report`` (the report
    summary) and ``windows`` (hourly level counts), as asked in ``parts``."""
    import duckdb

    src = f"SELECT * FROM read_parquet('{os.path.join(corpus, '*.parquet')}') WHERE length(text) > 0"
    con = duckdb.connect()

    def q(sql: str):
        return con.execute(sql).fetchall()

    q(f"CREATE TEMP TABLE p AS {osql.parsed_cte(src)} SELECT *, {osql.category_sql()} AS category FROM parsed")
    out: dict = {}
    if "counts" in parts:
        roles = ", ".join(f"'{r[0]}'" for r in DIM_ROLE_ROWS)
        tools = ", ".join(f"'{t[0]}'" for t in DIM_TOOL_ROWS)
        out["text_chars"] = int(q("SELECT sum(length(text)) FROM p")[0][0])
        out["cat_level"] = sorted([c, lv, n] for c, lv, n in q("SELECT category, level, count(*) FROM p GROUP BY 1, 2"))
        out["unmatched_rows"] = q(f"SELECT count(*) FROM p WHERE role NOT IN ({roles}) OR tool NOT IN ({tools})")[0][0]
    if "report" in parts:
        out["report"] = report_summary(_report_doc(q))
    if "windows" in parts:
        out["windows"] = window_summary(q("SELECT date_trunc('hour', ts), level, count(*) FROM p GROUP BY 1, 2"))
    con.close()
    return out


def _report_doc(q) -> dict:
    """The report document (``operators.analyze.collect_report``) of table ``p``."""
    n_total, n_unique, ratio = q(
        "SELECT count(*), count(DISTINCT msg_key), "
        "CASE WHEN count(*) = 0 THEN 0.0 ELSE (1.0 - count(DISTINCT msg_key) / count(*)) * 100.0 END FROM p"
    )[0]
    return {
        "matched_lines": [
            {"line": line, "count": n}
            for line, n in q(
                f"SELECT text, count(*) AS cnt FROM p GROUP BY text ORDER BY cnt DESC, text LIMIT {MAX_STORED_LINES}"
            )
        ],
        "total_count": n_total,
        "time_trends": [
            {"timestamp": b, "count": n}
            for b, n in q("SELECT bucket, count(*) FROM p WHERE bucket <> '' GROUP BY 1 ORDER BY 1")
        ],
        "stats": {
            "log_levels": [
                {"level": lv, "count": n}
                for lv, n in q("SELECT level, count(*) AS cnt FROM p GROUP BY 1 ORDER BY cnt DESC, level")
            ],
            "error_types": [
                {"error_type": e, "count": n, "rank": r}
                for e, n, r in q(
                    "SELECT error_type, cnt, rank FROM (SELECT error_type, cnt, "
                    "row_number() OVER (ORDER BY cnt DESC, error_type) AS rank FROM "
                    "(SELECT error_type, count(*) AS cnt FROM p WHERE error_type <> '' GROUP BY 1)) "
                    "WHERE rank <= 5 ORDER BY rank"
                )
            ],
            "unique_messages_count": n_unique,
            "repetition_ratio": ratio,
            "unique_messages": [m for (m,) in q("SELECT DISTINCT msg_key FROM p ORDER BY 1")],
        },
    }


def totals(cat_level: list, by: int) -> dict[str, int]:
    """Counts summed by category (``by=0``) or by level (``by=1``)."""
    out: dict[str, int] = {}
    for row in cat_level:
        out[row[by]] = out.get(row[by], 0) + row[2]
    return out
