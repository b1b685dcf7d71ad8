"""The benchmark's own tests.  Run from the root of a checkout:

    python -m pytest perfbench/tests -q

The tiny runs start a Spark session each (about a minute apiece).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

ROOT = Path(__file__).resolve().parents[2]
if str(ROOT) not in sys.path:
    sys.path.insert(0, str(ROOT))

from perfbench import checks, gen, run, workloads  # noqa: E402
from topn_clashroyal_etl_sql_snapshot_spark.testing.cr_synthetic import (  # noqa: E402
    oracle_etl,
)

TINY = ["--players", "30", "--entries-per-player", "3", "--seed-docs", "60",
        "--day-docs", "40", "--seconds", "1"]


def _run(workload: str, trace: int) -> dict:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "5",
         "--trace", str(trace), *TINY],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", sorted(workloads.WORKLOADS))
def test_tiny_run_emits_every_metric(workload, trace):
    res = _run(workload, trace)
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True and res["failed"] == 0 and res["attempted"] >= 1
    names = workloads.LAYERS[workload] if trace else run.END_TO_END
    assert set(res["metrics"]) == set(names)
    for name, m in res["metrics"].items():
        assert m["unit"] == names[name]
        assert isinstance(m["value"], (int, float))
        if not trace:
            assert m["value"] > 0, name


def _oracle_warehouse(root: str, seed: int = 3) -> dict[str, str]:
    """Write the oracle's tables as a parquet warehouse; return their digests."""
    lb, logs, overrides, _ = gen.battlelogs(seed, n_players=12, entries_per_player=4)
    oracle = oracle_etl(lb, [b for log in logs for b in log], overrides, 12)
    for table, rows in checks.oracle_rows(oracle).items():
        cols = checks.TABLE_COLUMNS[table]
        os.makedirs(os.path.join(root, table))
        pq.write_table(pa.Table.from_pylist([dict(zip(cols, r)) for r in rows]),
                       os.path.join(root, table, "part-0.parquet"))
    return checks.oracle_digests(oracle)


def _count_failures(warehouse: str, want: dict[str, str]) -> workloads.Outcome:
    out = workloads.Outcome("snapshot_refresh")
    workloads.timed_loop(
        out, 0.0,
        op=lambda i: {"items": 1, "checks_failed": []},
        check=lambda i, res: checks.refresh_failure(res, warehouse, want),
    )
    return out


def test_corrupted_digest_counts_as_failure(tmp_path):
    want = _oracle_warehouse(str(tmp_path))
    clean = _count_failures(str(tmp_path), want)
    assert (clean.attempted, clean.failed) == (1, 0)

    corrupt = dict(want, decks="0" * 64)
    out = _count_failures(str(tmp_path), corrupt)
    assert (out.attempted, out.failed, out.items) == (1, 1, 0)
    assert "decks" in out.failures[0]


def test_generator_is_seeded_and_plants_its_shares():
    a = gen.battlelogs(7, n_players=200, entries_per_player=6)
    b = gen.battlelogs(7, n_players=200, entries_per_player=6)
    assert a == b
    props = a[3]
    assert abs(props["cross_log_share"] - gen.CROSS_SHARE) < 0.05
    assert abs(props["noise_share"] - gen.NOISE_SHARE) < 0.03
    assert all(props["noise_by_kind"][k] > 0 for k in gen.NOISE_KINDS)
    assert props["distinct_deck_hashes"] > 500


def test_curation_batches_are_seeded_and_plant_their_shares():
    corpus = gen.curation_corpus(3, 500)
    rows, planted = gen.curation_batch(3, 1, 200, corpus)
    assert (rows, planted) == gen.curation_batch(3, 1, 200, corpus)
    assert planted == {k: round(200 * s) for k, s in gen.DAY_SHARES.items()}
    assert len(rows) == 200 and len({r[0] for r in rows}) == 200
    texts = {t for _, t, _ in corpus}
    assert sum(t in texts for _, t, _ in rows) == planted["byte_recrawl"]
    ids = {i for i, _, _ in corpus}
    assert sum(i in ids for i, _, _ in rows) == planted["id_recrawl"]
    # two days' near-dups of one document never collide byte for byte
    other, _ = gen.curation_batch(3, 2, 200, corpus)
    assert not {t for _, t, _ in rows} & {t for _, t, _ in other} - texts


def test_benchmark_json_names_what_the_runs_print():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == workloads.PER_LAYER
    for w in spec["workloads"]:
        assert workloads.LAYERS[w["name"]] is workloads.PER_LAYER


def test_tail_needs_ten_samples_beyond_it():
    assert run.tail([1.0] * 10) == (None, None)
    pct, value = run.tail([float(i) for i in range(20)])
    assert pct == 50.0 and value == 9.0
