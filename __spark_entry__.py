"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

All real logic lives in the ``team_02_spark`` package; this module is
a thin adapter over its query registry (team_02_spark/queries/), plus
the order the driver's bounded (~50-key) window reads the keys in.

Window order, one rule: sort every key by ``(oracle is None,
effective_round, DRIVER_REPROOF rank, name)``, where effective_round is
the round of the key's latest CORRECTNESS row next to this file, or 0
when it has no row, its latest row is red, or a DRIVER_RECHECK pin is
newer than that row.
"""

from __future__ import annotations

import json
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

from team_02_spark.queries import QUERIES

ROOT = Path(__file__).resolve().parent

# Keys whose implementation or check changed after their latest driver
# row, mapped to the round of that change. A pin fronts its key until a
# row from that round (or later) lands, then it decides nothing.
DRIVER_RECHECK: dict[str, int] = {
    # Bloom prefilter deleted; both keys run the unhinted exact gram join.
    "q_decontaminate_bloom": 17,
    "q_contamination": 17,
}

# Tiebreak among keys of the same round: the heaviest, most composite
# lanes first, where a regression would matter most and hide best.
DRIVER_REPROOF: tuple[str, ...] = (
    "q_triangles", "q_dedup_substring", "q_dedup_substring_strip",
    "q_curation_full", "q_pagerank", "q_cms_topk", "q_kl_drift",
    "q_shortest_path", "q_interval_coverage", "q_match_recognize",
    "q_component_split", "q_dedup_near", "q_dedup_embedding",
    "q_dedup_simhash", "q_lm_perplexity", "q_decontaminate_bloom",
    "q_bm25", "q_dsir_select", "q_split_leakage", "q_source_overlap",
    "q_setsim_join", "q_window_attribution", "q_cooccurrence",
    "q_heaps_law", "q_mmr_diverse", "q_rrf_hybrid", "q_pmi_bigrams",
    "q_assoc_rules", "q_growth_accounting", "q_temperature_mix",
)


def _latest_rows(root: Path) -> dict[str, tuple[int, bool]]:
    """Latest ``(round, green)`` per key over ``root/CORRECTNESS_r*.json``.

    Green means an oracle hash-match, or a rows-only key that ran clean
    (``err == 'no_oracle'`` with a row count). Files whose round does
    not parse or whose JSON is malformed, and non-dict rows, are skipped.
    """
    latest: dict[str, tuple[int, bool]] = {}
    for path in sorted(root.glob("CORRECTNESS_r*.json")):
        try:
            rnd = int(path.stem.rsplit("_r", 1)[-1])
            rows = json.loads(path.read_text())
        except (OSError, ValueError):
            continue
        if not isinstance(rows, dict):
            continue
        for key, row in rows.items():
            if not isinstance(row, dict) or rnd < latest.get(key, (0,))[0]:
                continue
            green = row.get("hash_match") is True or (
                row.get("err") == "no_oracle"
                and row.get("spark_rows") is not None
            )
            latest[key] = (rnd, green)
    return latest


def _window_order(root: Path = ROOT) -> list[str]:
    """Every registered key in the driver's window order (module doc)."""
    latest = _latest_rows(root)
    rank = {n: i for i, n in enumerate(DRIVER_REPROOF)}

    def sort_key(name: str) -> tuple[bool, int, int, str]:
        rnd, green = latest.get(name, (0, False))
        if not green or DRIVER_RECHECK.get(name, 0) > rnd:
            rnd = 0
        return (QUERIES[name].oracle is None, rnd,
                rank.get(name, len(DRIVER_REPROOF)), name)

    return sorted(QUERIES, key=sort_key)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: clean → explode →
    token frequency → top-20 (SURVEY.md §7.1)."""
    return QUERIES["q_token_topk"].fn(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return {n: QUERIES[n].fn for n in _window_order()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL twin for every SQL-expressible query."""
    return {n: QUERIES[n].oracle for n in _window_order()
            if QUERIES[n].oracle is not None}
