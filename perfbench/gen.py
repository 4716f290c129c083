"""Seeded, vectorized input generators for the E-PIPE and streaming workloads.

Every generator is a pure function of its seed: the same seed writes the
same bytes, so an output directory can be cached per seed and reused.
"""

from __future__ import annotations

import os
import unicodedata

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

AMINO = np.frombuffer(b"ACDEFGHIKLMNPQRSTVWY", dtype=np.uint8)
ID_PREFIX = b"PEP"
ID_DIGITS = 9
PEPTIDE_HEADER = b"peptide_id\tsequence\n"


# ---------------------------------------------------------------- E-PIPE


def job_sizes(n_jobs: int, lo: int, hi: int) -> np.ndarray:
    """Log-uniform job sizes in [lo, hi], one at the middle of each of
    ``n_jobs`` equal strata. The sizes are fixed so that every seed does the
    same amount of work; the seed changes the rows and the job order."""
    u = (np.arange(n_jobs) + 0.5) / n_jobs
    return np.round(lo * (hi / lo) ** u).astype(np.int64)


def peptide_tsv(rng: np.random.Generator, n: int, first_id: int) -> tuple[bytes, np.ndarray, np.ndarray]:
    """``n`` headerless TSV lines ``PEP<9 digits>\\t<sequence>\\n``.

    Returns the bytes plus each row's id number and sequence length, which
    is all the CRANKER stand-in's output depends on.
    """
    ids = first_id + np.arange(n, dtype=np.int64)
    lens = rng.integers(7, 31, n)
    head = len(ID_PREFIX) + ID_DIGITS + 1  # "PEP000000001\t"
    line_len = head + lens + 1
    starts = np.concatenate(([0], np.cumsum(line_len)[:-1]))
    buf = np.empty(int(line_len.sum()), dtype=np.uint8)

    digits = (ids[:, None] // 10 ** np.arange(ID_DIGITS - 1, -1, -1)) % 10 + ord("0")
    heads = np.empty((n, head), dtype=np.uint8)
    heads[:, : len(ID_PREFIX)] = np.frombuffer(ID_PREFIX, dtype=np.uint8)
    heads[:, len(ID_PREFIX) : head - 1] = digits
    heads[:, head - 1] = ord("\t")
    buf[(starts[:, None] + np.arange(head)).ravel()] = heads.ravel()

    total = int(lens.sum())
    seq_off = np.cumsum(lens) - lens
    pos = np.repeat(starts + head - seq_off, lens) + np.arange(total)
    buf[pos] = AMINO[rng.integers(0, len(AMINO), total)]
    buf[starts + head + lens] = ord("\n")
    return buf.tobytes(), ids, lens


def peptide_id_strings(ids: np.ndarray) -> np.ndarray:
    return np.char.add(ID_PREFIX.decode(), np.char.zfill(ids.astype(str), ID_DIGITS))


def write_peptide_job(rng: np.random.Generator, in_dir: str, n_rows: int, n_files: int, first_id: int) -> dict:
    """Spread ``n_rows`` peptides over ``n_files`` headered TSV files."""
    os.makedirs(in_dir, exist_ok=True)
    bounds = np.linspace(0, n_rows, n_files + 1).astype(np.int64)
    ids, lens, nbytes = [], [], 0
    for f in range(n_files):
        n = int(bounds[f + 1] - bounds[f])
        data, i, ln = peptide_tsv(rng, n, first_id + int(bounds[f]))
        path = os.path.join(in_dir, f"part-{f:05d}.tsv")
        with open(path, "wb") as fh:
            fh.write(PEPTIDE_HEADER)
            fh.write(data)
        nbytes += len(PEPTIDE_HEADER) + len(data)
        ids.append(i)
        lens.append(ln)
    return {"ids": np.concatenate(ids), "lens": np.concatenate(lens), "bytes": nbytes}


# ------------------------------------------------------------- streaming

_SYLLABLES = [
    "ka", "to", "ri", "ne", "mo", "sa", "lu", "pe", "di", "ga", "vo", "hi",
    "zu", "be", "fa", "yo", "ce", "ni", "ru", "te", "la", "mi", "so", "do",
]
# composed letters whose NFD form differs, for the unicode-tier twins
_ACCENTED = ["é", "ü", "ñ", "ç", "à", "ö", "í", "â"]

TWIN_TIERS = ("exact", "unicode", "casefold", "neardup")


def vocabulary(rng: np.random.Generator, size: int = 600) -> list[str]:
    words: set[str] = set()
    while len(words) < size:
        k = int(rng.integers(2, 4))
        w = "".join(_SYLLABLES[int(j)] for j in rng.integers(0, len(_SYLLABLES), k))
        if rng.random() < 0.25:
            at = int(rng.integers(0, len(w)))
            w = w[:at] + _ACCENTED[int(rng.integers(0, len(_ACCENTED)))] + w[at + 1 :]
        words.add(w)
    return sorted(words)


def shingles(text: str, n: int = 3) -> set[str]:
    toks = text.split(" ")
    if len(toks) < n:
        return {text}
    return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}


def _near_duplicates(texts: list[str], threshold: float) -> set[int]:
    """Indices of documents whose 3-gram shingle Jaccard with an earlier
    document reaches ``threshold`` (exact, through a shingle index)."""
    sets = [shingles(t) for t in texts]
    index: dict[str, list[int]] = {}
    drop: set[int] = set()
    for i, s in enumerate(sets):
        shared: dict[int, int] = {}
        for sh in s:
            for j in index.get(sh, ()):
                shared[j] = shared.get(j, 0) + 1
        if any(c / (len(s) + len(sets[j]) - c) >= threshold for j, c in shared.items()):
            drop.add(i)
            continue
        for sh in s:
            index.setdefault(sh, []).append(i)
    return drop


def _twin(rng: np.random.Generator, text: str, tier: str) -> str:
    if tier == "exact":
        return text
    if tier == "unicode":
        return unicodedata.normalize("NFD", text)
    if tier == "casefold":
        toks = text.split(" ")
        out = []
        for t in toks:
            r = rng.random()
            t = t.upper() if r < 0.2 else t.capitalize() if r < 0.6 else t
            out.append(t + ("," if rng.random() < 0.2 else ""))
        return " ".join(out) + "!"
    return text.rsplit(" ", 1)[0]  # neardup: drop the last word


def stream_corpus(seed: int, n_batches: int, per_batch: int, twin_share: float = 0.2) -> list[dict]:
    """Documents for a ``maxFilesPerTrigger=1`` backlog of ``n_batches`` files.

    Originals are random word sequences with natural near-duplicates
    (shingle Jaccard >= 0.3) removed, so every expected tier is known.
    About ``twin_share`` of each later batch are planted twins of
    originals from earlier batches, cycling through the four tiers.
    Returns one dict per batch: ``doc_id``, ``text``, ``tier`` lists.
    """
    rng = np.random.default_rng(seed)
    vocab = vocabulary(rng)
    accented = {w for w in vocab if unicodedata.normalize("NFD", w) != w}
    n_twins = int(round(per_batch * twin_share))
    n_orig = per_batch * n_batches - n_twins * (n_batches - 1)
    pool = int(n_orig * 1.1) + 8
    lens = rng.integers(12, 48, pool)
    texts = [" ".join(vocab[int(j)] for j in rng.integers(0, len(vocab), k)) for k in lens]
    drop = _near_duplicates(texts, 0.3)
    texts = [t for i, t in enumerate(texts) if i not in drop][:n_orig]
    if len(texts) < n_orig:
        raise RuntimeError("vocabulary too small for the requested corpus")
    has_accent = [any(w in accented for w in t.split(" ")) for t in texts]

    ids = rng.permutation(np.arange(1, per_batch * n_batches + 1, dtype=np.int64) * 7)
    batches: list[dict] = []
    twinned: set[int] = set()  # one twin per original, so twins never pair up
    next_orig, next_id, k = 0, 0, 0
    for b in range(n_batches):
        docs: list[tuple[int, str, str]] = []
        twins = 0 if b == 0 else n_twins
        for _ in range(twins):
            tier = TWIN_TIERS[k % len(TWIN_TIERS)]
            k += 1
            # sources come from earlier batches only
            src = next(
                int(i) for i in rng.permutation(next_orig)
                if int(i) not in twinned and (tier != "unicode" or has_accent[int(i)])
            )
            twinned.add(src)
            docs.append((int(ids[next_id]), _twin(rng, texts[src], tier), tier))
            next_id += 1
        for _ in range(per_batch - twins):
            docs.append((int(ids[next_id]), texts[next_orig], "kept"))
            next_id += 1
            next_orig += 1
        order = rng.permutation(len(docs))
        batches.append({
            "doc_id": [docs[i][0] for i in order],
            "text": [docs[i][1] for i in order],
            "tier": [docs[i][2] for i in order],
        })
    return batches


def write_stream_backlog(batches: list[dict], src_dir: str) -> int:
    """One parquet file per batch with strictly increasing mtimes, so the
    file source lists them in batch order. Returns the bytes written."""
    os.makedirs(src_dir, exist_ok=True)
    total = 0
    for b, batch in enumerate(batches):
        path = os.path.join(src_dir, f"batch-{b:04d}.parquet")
        pq.write_table(
            pa.table({
                "doc_id": pa.array(batch["doc_id"], pa.int64()),
                "text": pa.array(batch["text"], pa.string()),
            }),
            path,
        )
        os.utime(path, (1_600_000_000 + b, 1_600_000_000 + b))
        total += os.path.getsize(path)
    return total
