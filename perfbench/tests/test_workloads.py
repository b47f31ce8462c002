import pyarrow.parquet as pq

from perfbench.run import FIXTURES
from perfbench.workloads import (
    CURATION_ROWS,
    LEADERBOARD_BRANDS,
    choose_brands,
    is_relational,
    leaderboard_queries,
    pass_order,
    split_registry,
)


def _registry_tags():
    from bigdatastructure_a5_spark.registry import REGISTRY, _load_all

    _load_all()
    return {n: q.tags for n, q in REGISTRY.items()}


def test_tag_rule():
    assert is_relational(("O17", "O16"))
    assert is_relational(("ext:skew",))
    assert is_relational(("ext:layout",))
    assert not is_relational(("ext:dedup", "ext:streaming"))
    assert not is_relational(("ext:events", "ext:range-join"))
    assert not is_relational(("O",))  # an operator tag needs its number
    assert not is_relational(("XO12",))


def test_registry_splits_19_relational_31_curation():
    tags = _registry_tags()
    rel, cur = split_registry(tags)
    assert len(rel) == 19 and len(cur) == 31
    assert set(rel) | set(cur) == set(tags) and not set(rel) & set(cur)
    assert "agg_on_orderkey" in rel and "sort_limit_topk" in rel
    assert "join_asof_attribution" in cur  # ext:events/ext:asof, no O<n>


def test_curation_rows_come_from_the_curation_split():
    _rel, cur = split_registry(_registry_tags())
    assert set(CURATION_ROWS) <= set(cur)
    assert len(set(CURATION_ROWS)) == len(CURATION_ROWS)


def test_same_seed_same_row_order():
    rows = [f"r{i}" for i in range(30)]
    assert pass_order(rows, 7, 1) == pass_order(list(reversed(rows)), 7, 1)
    assert sorted(pass_order(rows, 7, 1)) == sorted(rows)
    assert pass_order(rows, 7, 1) != pass_order(rows, 8, 1)
    assert pass_order(rows, 7, 1) != pass_order(rows, 7, 2)


def test_same_seed_same_brands():
    brands = pq.read_table(FIXTURES / "part.parquet", columns=["p_brand"]).column(0).to_pylist()
    a, b = choose_brands(brands, 3), choose_brands(list(reversed(brands)), 3)
    assert a == b and len(set(a)) == len(a) == LEADERBOARD_BRANDS
    assert set(a) <= set(brands)
    assert choose_brands(brands, 3) != choose_brands(brands, 4)


def test_leaderboard_queries_use_the_reference_frequencies():
    qs = leaderboard_queries(["Brand#1", "Brand#2"])
    assert [q for q, _, _ in qs] == [
        "q1_brand_filter_0", "q2_filtered_join_0", "q1_brand_filter_1", "q2_filtered_join_1",
    ]
    assert [f for _, _, f in qs] == [1000, 100, 1000, 100]
    assert "'Brand#2'" in qs[3][1]


def test_benchmark_json_matches_the_runner():
    import json

    from perfbench.run import JUDGED, LAYER_UNITS, ROOT, UNITS, WORKLOADS

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert {w["name"] for w in spec["workloads"]} <= set(WORKLOADS)
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == [(n, UNITS[n]) for n in JUDGED]
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == list(LAYER_UNITS.items())
    setup = next(m for m in spec["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"])
