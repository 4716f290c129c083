"""Smoke test of the benchmark itself (not part of the repository's test suite).

    python3 -m pytest perfbench/smoke_test.py -q

It runs every workload at a tiny size (sf0.001, a small peptide corpus, three
micro-batches), untraced and traced, and asserts that every metric named in
BENCHMARK.json is emitted with no failed operation. It also shows each
correctness gate rejecting a deliberately corrupted output.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import unicodedata

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gates  # noqa: E402
import gen  # noqa: E402

SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
WORKLOADS = ("batch_queries", "epipe_cranker", "stream_ladder")


# ------------------------------------------------------------- every metric


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", WORKLOADS)
def test_every_metric_is_emitted(workload, trace):
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", str(trace), "--tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    wanted = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in wanted}
    for m in wanted:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"], m["name"]
        assert isinstance(got["value"], (int, float)), m["name"]
        if not trace:
            assert got["value"] > 0, m["name"]


# ------------------------------------------------------------------- gates


def test_cranker_gate_rejects_corrupted_output(tmp_path):
    rng = np.random.default_rng(3)
    made = gen.write_peptide_job(rng, str(tmp_path / "in"), 500, 3, first_id=1)
    ids, lens = made["ids"], made["lens"]

    def sink(name, pid=None, seq_len=None, verdict=None):
        out = tmp_path / name
        out.mkdir()
        pq.write_table(pa.table({
            "peptide_id": gen.peptide_id_strings(ids) if pid is None else pid,
            "seq_len": lens if seq_len is None else seq_len,
            "verdict": np.where(lens % 7 == 0, "match", "nomatch") if verdict is None else verdict,
        }), out / "part-0.parquet")
        return str(out)

    assert gates.check_cranker(sink("good"), ids, lens)[0]
    bad_len = lens.copy()
    bad_len[17] += 1
    assert not gates.check_cranker(sink("bad_len", seq_len=bad_len), ids, lens)[0]
    flipped = np.where(lens % 7 == 0, "nomatch", "match")
    assert not gates.check_cranker(sink("bad_verdict", verdict=flipped), ids, lens)[0]
    dup = gen.peptide_id_strings(ids)
    dup[0] = dup[1]
    assert not gates.check_cranker(sink("bad_id", pid=dup), ids, lens)[0]


def test_tier_gate_rejects_corrupted_output(tmp_path):
    batches = gen.stream_corpus(seed=5, n_batches=2, per_batch=40)
    b = batches[1]
    assert set(b["tier"]) == set(gen.TWIN_TIERS) | {"kept"}

    def tiers(name, tier):
        d = tmp_path / name / "tiers" / "batch_id=1"
        d.mkdir(parents=True)
        pq.write_table(pa.table({"doc_id": pa.array(b["doc_id"], pa.int64()), "tier": tier}),
                       d / "part-0.parquet")
        return str(tmp_path / name)

    assert gates.check_tiers(tiers("good", b["tier"]), 1, b)[0]
    wrong = list(b["tier"])
    wrong[wrong.index("unicode")] = "kept"
    assert not gates.check_tiers(tiers("bad", wrong), 1, b)[0]


def test_query_gate_rejects_corrupted_output(tmp_path):
    from types import SimpleNamespace

    oracle = gates._oracle_module()
    sf_dir = os.path.join(HERE, "fixture", "sf0.001")
    sql = "SELECT n_regionkey, count(*) AS n FROM nation GROUP BY n_regionkey"
    qd = SimpleNamespace(oracle=sql)
    expected = gates.oracle_hashes({"qx": qd}, sf_dir, str(tmp_path))["qx"]
    rows = [tuple(r) for r in oracle.duck_connection(sf_dir).execute(sql).fetchall()]
    assert gates.check_query("qx", ["n_regionkey", "n"], rows, expected)[0]
    rows[0] = (rows[0][0], rows[0][1] + 1)
    assert not gates.check_query("qx", ["n_regionkey", "n"], rows, expected)[0]
    assert not gates.check_query("qx", ["n_regionkey", "n"], rows[1:], expected)[0]


# -------------------------------------------------------------- generators


def test_generators_repeat_per_seed(tmp_path):
    a = gen.peptide_tsv(np.random.default_rng(9), 1000, 1)
    b = gen.peptide_tsv(np.random.default_rng(9), 1000, 1)
    assert a[0] == b[0]
    lines = a[0].decode().splitlines()
    assert len(lines) == 1000
    pid, seq = lines[10].split("\t")
    assert pid == "PEP000000011" and len(seq) == a[2][10]
    assert gen.stream_corpus(4, 3, 50) == gen.stream_corpus(4, 3, 50)


def test_stream_corpus_plants_known_tiers():
    batches = gen.stream_corpus(seed=8, n_batches=4, per_batch=60)
    originals = {}
    for i, b in enumerate(batches):
        for t, tier in zip(b["text"], b["tier"]):
            if tier == "kept":
                originals[t] = i
    for i, b in enumerate(batches):
        for t, tier in zip(b["text"], b["tier"]):
            if tier == "exact":
                assert originals[t] < i  # the twin lands after its original
            if tier == "unicode":
                assert unicodedata.normalize("NFC", t) in originals
                assert originals[unicodedata.normalize("NFC", t)] < i
