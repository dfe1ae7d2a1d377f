"""bench.py's contract, checked without a Spark session: the scaling
levels it derives from the CPU count, the efficiency it reports, and the
one-line JSON headline that ends its stdout."""

import json

import bench


def test_levels_from_cpu_count():
    assert bench.levels(1) == [1, 1]
    assert bench.levels(4) == [1, 4]
    assert bench.levels(8) == [2, 8]
    assert bench.levels(32) == [8, 32]


def _leg(threads, docs_per_sec):
    return {"threads": threads, "docs_per_sec": docs_per_sec,
            "wall_sec": round(1000 / docs_per_sec, 3),
            "wall_samples": [1.0, 0.9, 0.95], "n_docs": 1000,
            "avg_doc_bytes": 8000, "mb_per_sec": 1.0}


def test_scaling_keeps_best_leg_per_level():
    legs = [_leg(1, 100.0), _leg(4, 340.0), _leg(4, 360.0), _leg(1, 90.0)]
    best, scaling = bench._scaling(legs, 1, 4)
    assert best[1]["docs_per_sec"] == 100.0
    assert best[4]["docs_per_sec"] == 360.0
    assert scaling["levels"] == {"1": 100.0, "4": 360.0}
    assert scaling["efficiency_1_to_4"] == 0.9
    assert [leg["threads"] for leg in scaling["legs"]] == [1, 4, 4, 1]


def test_compact_is_one_line_with_the_contract_keys():
    _, scaling = bench._scaling(
        [_leg(2, 100.0), _leg(8, 300.0), _leg(8, 320.0), _leg(2, 95.0)],
        2, 8)
    result = {
        "metric": "extract_docs_per_sec", "unit": "sec", "sf": 0.01,
        "scaling": scaling, "docs_per_sec": 320.0, "mb_per_sec": 2.6,
        "n_docs": 1000, "avg_doc_bytes": 8000,
        "skew": {"threads": 8, "n_docs": 1000, "n_partitions": 16,
                 "salt_prep_sec": 0.5, "unsalted_wall_sec": 4.0,
                 "salted_wall_sec": 2.0, "speedup": 2.0,
                 "wall_samples": {"unsalted": [4.0, 4.1],
                                  "salted": [2.0, 2.1]}},
        "queries": {"extract_n2": 10.0, "extract_n8": 3.1,
                    "pricing_summary": 1.2},
        "queries_passes": {"pricing_summary": [1.2, 1.3]},
        "value": 14.3, "full_results": "BENCH_FULL_sf0.01.json"}
    line = bench.compact(result)
    assert "\n" not in line
    out = json.loads(line)
    assert list(out) == ["metric", "value", "unit", "sf", "docs_per_sec",
                         "mb_per_sec", "n_docs", "avg_doc_bytes", "queries",
                         "skew", "scaling", "full_results"]
    assert out["skew"] == {"unsalted_wall_sec": 4.0, "salted_wall_sec": 2.0,
                           "speedup": 2.0}
    assert out["scaling"] == {"levels": {"2": 100.0, "8": 320.0},
                              "efficiency_2_to_8": 0.8}
    assert out["queries"] == result["queries"]
