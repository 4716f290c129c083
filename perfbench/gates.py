"""Correctness gates. Every gate returns ``(ok, why)`` and never raises on a
wrong output, so a failed gate is counted, not skipped."""

from __future__ import annotations

import functools
import hashlib
import importlib.util
import json
import os

import numpy as np
import pandas as pd
import pyarrow.compute as pc
import pyarrow.parquet as pq

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@functools.cache
def _oracle_module():
    """The repository's DuckDB oracle harness (tests/oracle.py): its
    canonicalization is the one every registered query is checked with."""
    spec = importlib.util.spec_from_file_location("_perfbench_oracle", os.path.join(ROOT, "tests", "oracle.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def oracle_hashes(defs: dict, sf_dir: str, cache_dir: str) -> dict[str, dict]:
    """Expected canonical hash and row count per query, from its DuckDB
    oracle; computed once per fixture and oracle text, then cached under
    ``cache_dir``."""
    oracle = _oracle_module()
    os.makedirs(cache_dir, exist_ok=True)
    path = os.path.join(cache_dir, os.path.basename(sf_dir.rstrip("/")) + ".json")
    cache = json.load(open(path)) if os.path.exists(path) else {}
    con = None
    out = {}
    for name, qd in defs.items():
        key = hashlib.md5((qd.oracle or "").encode()).hexdigest()
        if qd.oracle is None:
            raise ValueError(f"{name} has no DuckDB oracle to gate it with")
        hit = cache.get(name)
        if not hit or hit["key"] != key:
            con = con or oracle.duck_connection(sf_dir)
            df = con.execute(qd.oracle).df()
            hit = cache[name] = {"key": key, "hash": oracle.value_hash(df), "rows": len(df)}
        out[name] = hit
    _save(path, cache)
    return out


def _save(path: str, obj) -> None:
    with open(path + ".tmp", "w") as f:
        json.dump(obj, f, indent=1, sort_keys=True)
    os.replace(path + ".tmp", path)


def query_hash(columns: list[str], rows: list) -> str:
    pdf = pd.DataFrame.from_records([tuple(r) for r in rows], columns=columns)
    return _oracle_module().value_hash(pdf)


def check_query(name: str, columns: list[str], rows: list, expected: dict) -> tuple[bool, str]:
    """The collected rows' canonical hash must equal the oracle's."""
    got = query_hash(columns, rows)
    if got == expected["hash"] and len(rows) == expected["rows"]:
        return True, ""
    return False, f"{name}: hash {got} rows {len(rows)}, expected {expected['hash']} rows {expected['rows']}"


def check_cranker(out_dir: str, ids: np.ndarray, lens: np.ndarray) -> tuple[bool, str, int]:
    """Every output row must be (peptide_id, len(sequence), verdict) with
    verdict 'match' exactly when the length is a multiple of 7. Returns
    the verdict, the reason and the number of rows read back."""
    try:
        return _check_cranker(pq.read_table(out_dir), ids, lens)
    except (OSError, ValueError, KeyError) as e:  # unreadable sink, bad id, missing column
        return False, f"sink {out_dir}: {e!r}", 0


def _check_cranker(t, ids: np.ndarray, lens: np.ndarray) -> tuple[bool, str, int]:
    n = t.num_rows
    if n != len(ids):
        return False, f"{n} rows out for {len(ids)} in", n
    if t.column("peptide_id").null_count or t.column("seq_len").null_count:
        return False, "null peptide_id or seq_len", n
    got_id = pc.cast(pc.utf8_slice_codeunits(t.column("peptide_id"), 3), "int64").to_numpy()
    order = np.argsort(got_id, kind="stable")
    want = np.argsort(ids, kind="stable")
    if not np.array_equal(got_id[order], ids[want]):
        return False, "peptide ids differ from the input", n
    prefix_ok = pc.all(pc.starts_with(t.column("peptide_id"), "PEP")).as_py()
    seq_len = t.column("seq_len").to_numpy()[order]
    verdict = np.asarray(t.column("verdict").to_numpy(zero_copy_only=False))[order]
    want_len = lens[want]
    want_verdict = np.where(want_len % 7 == 0, "match", "nomatch")
    if not prefix_ok or not np.array_equal(seq_len, want_len):
        return False, "seq_len differs from len(sequence)", n
    if not np.array_equal(verdict, want_verdict):
        return False, "verdict differs from len % 7 rule", n
    return True, "", n


def check_tiers(store: str, batch_id: int, batch: dict) -> tuple[bool, str]:
    """Every planted twin carries its planted tier, every other document
    is 'kept', and the batch's tier rows cover exactly its documents."""
    path = os.path.join(store, "tiers", f"batch_id={batch_id}")
    try:
        t = pq.read_table(path, columns=["doc_id", "tier"]).to_pydict()
    except (OSError, ValueError, KeyError) as e:
        return False, f"batch {batch_id}: unreadable tiers: {e!r}"
    got = dict(zip(t["doc_id"], t["tier"]))
    want = dict(zip(batch["doc_id"], batch["tier"]))
    if len(t["doc_id"]) != len(got) or set(got) != set(want):
        return False, f"batch {batch_id}: tier rows {len(t['doc_id'])} for {len(want)} documents"
    wrong = [(d, got[d], want[d]) for d in want if got[d] != want[d]]
    if wrong:
        return False, f"batch {batch_id}: {len(wrong)} wrong tiers, e.g. {wrong[:3]}"
    return True, ""

