"""Workload definitions: which registry rows each workload runs, and the
inputs the seed chooses (row order inside each pass, brand literals).

The seed chooses nothing else: the fixtures, the layouts and the query
templates are fixed."""

from __future__ import annotations

import random
import re

#: ``ext:`` tags that put a registry row in ``registry_relational``
#: together with every reference-operator tag ``O<n>``.
RELATIONAL_EXT_TAGS = frozenset(
    {"ext:agg", "ext:joins", "ext:skew", "ext:setops", "ext:sort", "ext:layout"}
)

#: The registry rows ``registry_curation`` times: one row of each of six
#: curation families, among them the packer's staged store and two streams.
#: The other curation rows are left out so that a run fits the benchmark's
#: time budget (see README "Why curation runs a subset").
CURATION_ROWS = (
    "dedup_exact",  # dedup
    "pack_assembly_incremental",  # packing + streaming: src store, state store
    "events_streaming_rollup",  # events + streaming
    "sim_sq8_topk",  # similarity + quantization
    "text_langid",  # text
    "pipeline_mixture",  # mixture
)

#: Brands per leaderboard pass and the reference query frequencies.
LEADERBOARD_BRANDS = 2
BRAND_FILTER_FREQUENCY = 1000
FILTERED_JOIN_FREQUENCY = 100


def is_relational(tags: tuple[str, ...]) -> bool:
    return any(re.fullmatch(r"O\d+", t) or t in RELATIONAL_EXT_TAGS for t in tags)


def split_registry(tags_by_row: dict[str, tuple[str, ...]]) -> tuple[list[str], list[str]]:
    """-> (relational rows, curation rows), each sorted by name."""
    rel = sorted(n for n, tags in tags_by_row.items() if is_relational(tags))
    cur = sorted(n for n in tags_by_row if n not in set(rel))
    return rel, cur


def pass_order(rows: list[str], seed: int, pass_index: int) -> list[str]:
    """The seed-chosen order of ``rows`` in pass ``pass_index`` (the
    warm-up pass is index 0)."""
    out = sorted(rows)
    random.Random(f"{seed}:{pass_index}").shuffle(out)
    return out


def choose_brands(brands: list[str], seed: int, k: int = LEADERBOARD_BRANDS) -> list[str]:
    return random.Random(f"brands:{seed}").sample(sorted(set(brands)), k)


def brand_filter_sql(brand: str) -> str:
    return f"SELECT p.p_name, p.p_brand FROM part p WHERE p.p_brand = '{brand}'"


def filtered_join_sql(brand: str) -> str:
    return (
        "SELECT l.l_orderkey, l.l_quantity FROM lineitem l "
        "JOIN part p ON l.l_partkey = p.p_partkey "
        f"WHERE p.p_brand = '{brand}'"
    )


def filtered_join_count_sql(brand: str) -> str:
    """DuckDB oracle for one brand's filtered-join row count."""
    return (
        "SELECT count(*) FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey "
        f"WHERE p.p_brand = '{brand}'"
    )


def leaderboard_queries(brands: list[str]) -> list[tuple[str, str, float]]:
    """(query id, SQL, frequency) for each brand: the brand filter and the
    filtered join of ``examples/challenge_demo.py``'s workload."""
    out = []
    for i, b in enumerate(brands):
        out.append((f"q1_brand_filter_{i}", brand_filter_sql(b), BRAND_FILTER_FREQUENCY))
        out.append((f"q2_filtered_join_{i}", filtered_join_sql(b), FILTERED_JOIN_FREQUENCY))
    return out
