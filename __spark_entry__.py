"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

Implementation lives in ``data_transform_spark`` (SURVEY.md §2 keys);
this module only adapts the registry to the driver's entry points.
The generated operator inventory is COVERAGE.md; the 100 TB design
contract per operator family is SCALING.md.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

_REPO_ROOT = os.path.dirname(os.path.abspath(__file__))
if _REPO_ROOT not in sys.path:
    sys.path.insert(0, _REPO_ROOT)

import data_transform_spark.functions  # noqa: E402,F401 — populates registry
import data_transform_spark.operators  # noqa: E402,F401 — populates registry
import data_transform_spark.pipeline  # noqa: E402,F401 — populates registry
import data_transform_spark.streaming  # noqa: E402,F401 — populates registry
from data_transform_spark.plans.flagship import flagship  # noqa: E402
from data_transform_spark.registry import ORACLES, QUERIES  # noqa: E402
from data_transform_spark.session import configure_session  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    configure_session(spark)
    return flagship(spark, "/root/testdata/sf0.001")


def _wrap(fn: Callable) -> Callable[[SparkSession, str], DataFrame]:
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        configure_session(spark)
        return fn(spark, sf_dir)

    return run


# Keys with a green (rows+schema+hash) row in ANY committed CORRECTNESS
# round. The driver's sweep stops after the first 50 keys in queries()
# order, so keys WITHOUT an official row yet are listed first and the
# already-verified ones come last — a capped sweep then spends its budget
# where it adds coverage (round-3 VERDICT "Next round" #1).
#
# The set is read from the CORRECTNESS_r*.json files the driver commits
# into the repo root, so it maintains itself round over round (round 3
# wasted its entire sweep budget on a hand-maintained set that had gone
# stale). With no CORRECTNESS file, nothing counts as verified.


def _official_green() -> set[str]:
    return set(_official_green_rounds())


def _official_green_rounds() -> dict[str, int]:
    import glob
    import json

    # Latest round wins per key: a key whose most recent official row went
    # RED must fall back into the unverified block so the next capped sweep
    # re-checks it, even if an older round had it green. Order by the
    # NUMERIC round (lexicographic puts r10 before r4 and would let an old
    # round overwrite a newer verdict).
    import re

    def _round_no(path: str) -> int:
        m = re.search(r"_r(\d+)", os.path.basename(path))
        return int(m.group(1)) if m else -1

    latest: dict[str, tuple[int, bool]] = {}
    for path in sorted(
        glob.glob(os.path.join(_REPO_ROOT, "CORRECTNESS_r*.json")), key=_round_no
    ):
        try:
            with open(path) as fh:
                rows = json.load(fh)
        except (OSError, ValueError):
            continue
        for key, row in rows.items():
            if isinstance(row, dict):
                latest[key] = (
                    _round_no(path),
                    bool(
                        row.get("rows_match")
                        and row.get("schema_match")
                        and row.get("hash_match")
                    ),
                )
    # A green verdict only counts if it post-dates the last output-changing
    # rewrite of that key — otherwise the row describes code that no longer
    # exists and the key must re-enter the sweep.
    return {
        key: rnd
        for key, (rnd, ok) in latest.items()
        if ok and rnd >= _CHANGED_IN_ROUND.get(key, -1)
    }


# Keys whose RESULT SET changed in a given round after they already had a
# green official row. Their stale verdict is ignored until the driver
# re-verifies them in that round or later (at which point the entry here is
# inert and can be dropped).
_CHANGED_IN_ROUND: dict[str, int] = {}


_GREEN_ROUNDS = _official_green_rounds()
_GREEN_OFFICIAL = set(_GREEN_ROUNDS)


def _key_rounds() -> dict[str, int]:
    """Registry key -> round it was first registered (tools/key_rounds.json,
    generated by tools/gen_key_rounds.py from the driver's round-boundary
    commits). Unverified keys sort oldest-round-first so a capped sweep
    drains the oldest backlog instead of starving it behind newly-registered
    keys (round-6 VERDICT "Next round" #1). Missing file or missing key ->
    a large round, i.e. brand-new keys queue BEHIND the backlog."""
    import json

    try:
        with open(os.path.join(_REPO_ROOT, "tools", "key_rounds.json")) as fh:
            data = json.load(fh)
        return {k: int(v) for k, v in data.items()}
    except (OSError, ValueError, TypeError, AttributeError) as exc:
        # AttributeError/TypeError: malformed JSON shape (array, null
        # values) — degrade to round-unknown ordering, never fail import;
        # but SAY SO, or a broken file silently reverts the backlog-drain
        # sweep ordering and only the test suite would notice (r7 ADVICE)
        print(
            "WARNING: tools/key_rounds.json unreadable "
            f"({type(exc).__name__}: {exc}); sweep falls back to "
            "round-unknown ordering — regenerate with "
            "`python tools/gen_key_rounds.py`",
            file=sys.stderr,
        )
        return {}


_KEY_ROUNDS = _key_rounds()
_ROUND_UNKNOWN = 10**6


def _latest_official_round() -> int:
    """Newest round with a committed CORRECTNESS file (0 if none) — the
    round currently in flight is this + 1."""
    import glob
    import re

    rounds = [
        int(m.group(1))
        for path in glob.glob(os.path.join(_REPO_ROOT, "CORRECTNESS_r*.json"))
        if (m := re.search(r"_r(\d+)", os.path.basename(path)))
    ]
    return max(rounds, default=0)


_LATEST_OFFICIAL_ROUND = _latest_official_round()


def _sweep_tier(name: str) -> int:
    """0 = unverified backlog (leads the sweep), 1 = officially green
    (stalest-certification-first rotation), 2 = registered in the CURRENT
    in-flight round (queues behind the green block).

    Tier 2 is the certification-freshness freeze (r11 VERDICT #1): with
    371 green keys and a 50-key sweep cap, a brand-new key that jumped
    the queue would evict a stale r1/r3-era row from re-certification.
    New keys are locally 3-SF oracle-verified before registration, so
    deferring their OFFICIAL row one round is the cheaper staleness.
    Self-releasing: the moment the driver commits this round's
    CORRECTNESS file, _LATEST_OFFICIAL_ROUND advances and these keys
    drop into tier 0, leading the next sweep."""
    if name in _GREEN_OFFICIAL:
        return 1
    rnd = _KEY_ROUNDS.get(name, _ROUND_UNKNOWN)
    return 2 if rnd > _LATEST_OFFICIAL_ROUND else 0


def _sweep_rank(name: str) -> tuple:
    ins = list(QUERIES).index(name)
    rnd = _KEY_ROUNDS.get(name, _ROUND_UNKNOWN)
    # Age-based re-verify tier (r10 VERDICT #5): unverified backlog keys
    # still lead (oldest registration round first — unchanged), but WITHIN
    # the green block keys sort by how long ago the driver last certified
    # them, so once new-key pressure eases, each capped sweep's spare slots
    # rotate through the stalest green rows instead of a fixed
    # registration-order tail. Keys registered in the in-flight round sort
    # LAST (tier 2 — see _sweep_tier).
    green_rnd = _GREEN_ROUNDS.get(name, 0) if name in _GREEN_OFFICIAL else 0
    return (_sweep_tier(name), green_rnd, rnd, ins)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2, ordered so a
    capped driver sweep reaches officially-unverified keys first."""
    ordered = sorted(QUERIES, key=_sweep_rank)
    return {name: _wrap(QUERIES[name]) for name in ordered}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL twin for each hash-checkable key."""
    ordered = sorted(QUERIES, key=_sweep_rank)
    return {name: ORACLES[name] for name in ordered if name in ORACLES}
