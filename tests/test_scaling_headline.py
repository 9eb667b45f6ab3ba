"""The scaling headline recomputed from the committed batch records.

``compute_headline`` (scripts/scaling_bench.py) pools every batch's
samples per executor core count; its median must be the statistical
median, the definition a batch summary uses, not the upper-middle sample.
"""

import json
import os
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from scripts.scaling_bench import compute_headline  # noqa: E402


def _record(name: str) -> dict:
    with open(os.path.join(REPO, "BENCH", name)) as fh:
        return json.load(fh)


@pytest.mark.parametrize(
    "name, n_samples, median, meets_target",
    [
        ("quiet_scaling_r10.json", 15, 0.82, True),
        ("quiet_scaling_r11.json", 30, 0.7825, False),
    ],
)
def test_headline_of_committed_batches(name, n_samples, median, meets_target):
    record = _record(name)
    headline = compute_headline(record["batches"])
    committed = record["headline"]["per_protocol"]
    assert set(headline["per_protocol"]) == set(committed) == {"6c_to_24c"}
    row = headline["per_protocol"]["6c_to_24c"]
    assert row["efficiencies"] == committed["6c_to_24c"]["efficiencies"]
    assert row["n_samples"] == n_samples
    assert row["median"] == median
    assert row["meets_target"] is meets_target
    assert headline["best_protocol_median"] == median
    assert headline["meets_target"] is meets_target


def test_even_sample_count_takes_the_mean_of_the_middle_pair():
    batches = [
        {"exec_cores": 6, "samples": [{"efficiency": e} for e in (0.79, 0.9)]},
        {"exec_cores": 4, "samples": [{"efficiency": e} for e in (0.7, 0.81, 0.6)]},
    ]
    headline = compute_headline(batches)
    assert headline["per_protocol"]["6c_to_24c"]["median"] == 0.845
    assert headline["per_protocol"]["4c_to_16c"]["median"] == 0.7
    assert headline["best_protocol_median"] == 0.845
    assert headline["meets_target"] is True


def test_bench_embeds_the_newest_scaling_record():
    import bench

    paths = bench.scaling_record_paths(os.path.join(REPO, "BENCH"))
    assert os.path.basename(paths[0]) == "quiet_scaling_r11.json"
    assert os.path.basename(paths[1]) == "quiet_scaling_r10.json"
