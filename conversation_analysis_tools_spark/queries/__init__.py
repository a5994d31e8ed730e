"""Named-query registry: the driver-facing catalog of every implemented
operator (SURVEY.md §2), each with its DuckDB oracle SQL.

Importing this package loads every query module, which registers its
queries into ``REGISTRY``; ``__spark_entry__.py`` exposes them.
"""

from conversation_analysis_tools_spark.queries.registry import REGISTRY, register, Query

# Import for registration side effects -- order matters only for
# readability of the registry listing.
from conversation_analysis_tools_spark.queries import relational  # noqa: F401
from conversation_analysis_tools_spark.queries import nlp  # noqa: F401
from conversation_analysis_tools_spark.queries import dedup  # noqa: F401
from conversation_analysis_tools_spark.queries import textstats  # noqa: F401
from conversation_analysis_tools_spark.queries import similarity  # noqa: F401
from conversation_analysis_tools_spark.queries import iterative  # noqa: F401
from conversation_analysis_tools_spark.queries import streaming  # noqa: F401
from conversation_analysis_tools_spark.queries import sampling  # noqa: F401
from conversation_analysis_tools_spark.queries import behavior  # noqa: F401
from conversation_analysis_tools_spark.queries import audit  # noqa: F401
from conversation_analysis_tools_spark.queries import retrieval  # noqa: F401
from conversation_analysis_tools_spark.queries import mlfilter  # noqa: F401
from conversation_analysis_tools_spark.queries import ingest  # noqa: F401

# ---------------------------------------------------------------------------
# Verification-priority ordering.
#
# The external driver records correctness rows for only the FIRST 50
# entries of ``__spark_entry__.queries()`` per round, so registration
# order is a scarce verification window. The rule:
#
# - VERIFY_PRIORITY pins only the current round's new or changed-plan
#   queries, and each round's list is cleared once its green driver
#   rows land. A plan that is byte-identical at the driver's sf needs
#   no pin.
# - Everything else is auto-ranked by ordered_registry() from the
#   CORRECTNESS_r*.json history: never-checked oracled queries first,
#   then oracled ones by oldest green round, then rows-only queries.
# - tests/test_rollup_audit.py::test_rotation_staleness_bound enforces
#   it: at most 50 // 4 pins, and every oracled query's driver row is
#   refreshed within ceil(O / 50) <= 4 rounds (O = oracled count),
#   plus at most one round of delay from a pin list.
#
# Past rounds' pin lists and window arithmetic are in CHANGES.md.
# ---------------------------------------------------------------------------

VERIFY_PRIORITY: list[str] = [
    "streaming_static_enrich",
    "streaming_stream_join",
    "dedup_simhash",
    "dedup_minhash_lsh",
    "streaming_tumbling",
    "streaming_dedup_first",
    "streaming_rollup_maintenance",
    "streaming_hll_maintenance",
    "streaming_neardup_dedup",
    "streaming_curation_funnel",
]


def _driver_history() -> dict[str, int]:
    """query name -> latest round with a green driver row, parsed from
    the CORRECTNESS_r*.json files the driver leaves in the repo root.
    Empty dict when none exist (round 1) or on any parse problem."""
    import glob
    import json
    import os
    import re

    root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    latest: dict[str, int] = {}
    for path in sorted(glob.glob(os.path.join(root, "CORRECTNESS_r*.json"))):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            with open(path) as f:
                rows = json.load(f)
        except Exception:  # noqa: BLE001 -- a malformed file must not break import
            continue
        for name, row in rows.items():
            ok = (
                isinstance(row, dict)
                and row.get("rows_match")
                and row.get("schema_match")
                and row.get("hash_match") is not False
                and not row.get("err")
            )
            if ok:
                latest[name] = max(rnd, latest.get(name, 0))
    return latest


def ordered_registry() -> dict[str, Query]:
    """REGISTRY reordered so the driver's 50-row correctness window
    always holds the highest-value queries, with NO manual rotation
    needed in future rounds:

    1. VERIFY_PRIORITY (manual override: this round's new/changed
       queries and curated promotions), in order;
    2. oracled queries with NO green driver row in any recorded round
       (never-checked);
    3. oracled queries by ASCENDING last-green round (the cadence
       rule above);
    4. everything else (rows-only queries, freshest-green last).

    Ages come from the CORRECTNESS_r*.json files the driver writes
    into the repo root, so each new round's results automatically
    re-rank the next round's window.
    """
    history = _driver_history()
    out: dict[str, Query] = {}
    for name in VERIFY_PRIORITY:
        if name in REGISTRY:
            out[name] = REGISTRY[name]
    rest = [n for n in REGISTRY if n not in out]
    # stable sort: never-checked oracled first (age 0), then oldest
    # green, then rows-only; registration order breaks ties
    def age_key(name: str) -> tuple[int, int]:
        has_oracle = REGISTRY[name].oracle is not None
        last = history.get(name, 0)
        return (0 if has_oracle else 1, last)

    for name in sorted(rest, key=age_key):
        out[name] = REGISTRY[name]
    return out


__all__ = ["REGISTRY", "register", "Query", "VERIFY_PRIORITY", "ordered_registry"]
