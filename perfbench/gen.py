"""Seeded input generators for the benchmark workloads.

Plain numpy + pyarrow, no Spark: inputs are written before the session
starts, so generation never counts toward set-up time. Every random draw is
a splitmix64 hash of (seed, row, stream), so the seed fixes the data and the
row count fixes the shape. Outputs are cached under a key made of this
file's source hash, the workload, the seed and the size.
"""

from __future__ import annotations

import hashlib
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_GOLDEN = np.uint64(0x9E3779B97F4A7C15)
_EPOCH_S = 1704067200  # 2024-01-01T00:00:00Z, the repo generator's epoch


def _mix(seed: int, rows: np.ndarray, stream: int) -> np.ndarray:
    """splitmix64 of (seed, row, stream): uniform uint64 per row."""
    with np.errstate(over="ignore"):
        z = rows.astype(np.uint64) * _GOLDEN + np.uint64((seed * 0x632BE59BD9B4E019 + stream * 0x85EBCA77) % 2**64)
        z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        return z ^ (z >> np.uint64(31))


def _draw(seed: int, rows: np.ndarray, stream: int, n: int) -> np.ndarray:
    return (_mix(seed, rows, stream) % np.uint64(n)).astype(np.int64)


def transcripts(n_turns: int, seed: int, n_proteins: int, n_diseases: int) -> pa.Table:
    """Transcripts with the columns and skew of ``transcripts.generate_transcripts``.

    Two hot conversations carry 20% of the turns; every turn names two
    entities (protein + protein, or protein + disease) in one of the three
    protein surface variants; every 37th turn carries quote, delimiter and
    newline characters. Entity ids are hashed draws over ``n_proteins`` and
    ``n_diseases`` ids, so the vocabulary width is a parameter.
    """
    i = np.arange(n_turns, dtype=np.int64)
    base, slot = i // 20, i % 20
    hot = slot < 4
    turn_idx = np.where(hot, base * 2 + slot // 2, slot - 4)
    conv = np.where(hot, np.char.add("hot", (slot % 2).astype(str)), np.char.add("c", base.astype(str)))
    role = np.where(turn_idx % 5 == 4, "tool", np.where(turn_idx % 2 == 0, "user", "assistant"))
    tool = [f"tool_{k}" if r == "tool" else None for k, r in zip((i % 5).tolist(), role.tolist())]

    pk = _draw(seed, i, 1, n_proteins) + 1
    pk2 = _draw(seed, i, 2, n_proteins) + 1
    dk = _draw(seed, i, 3, n_diseases) + 1
    variant = _draw(seed, i, 4, 3)
    ppi = _draw(seed, i, 5, 3) == 0
    prefix = ("PROT", "prot-", "Protein ")
    text = []
    for r, (p, p2, d, v, pp) in enumerate(zip(pk.tolist(), pk2.tolist(), dk.tolist(), variant.tolist(), ppi.tolist())):
        filler = "it's a 'quoted;\nmulti\rline' note " if r % 37 == 0 else ""
        s1 = prefix[v] + str(p)
        if pp:
            text.append(f"{filler}we think {s1} interacts with PROT{p2} today")
        else:
            text.append(f"{filler}report: {s1} is linked to DIS{d} in assay")
    ts_us = (_EPOCH_S + base * 3600 + turn_idx * 60) * 1_000_000
    return pa.table(
        {
            "conv_id": pa.array(conv.tolist(), pa.string()),
            "turn_idx": pa.array(turn_idx, pa.int32()),
            "role": pa.array(role.tolist(), pa.string()),
            "text": pa.array(text, pa.string()),
            "tool": pa.array(tool, pa.string()),
            "ts": pa.array(ts_us, pa.timestamp("us", tz="UTC")),
        }
    )


PROBE_COUNT = 16


def probes(seed: int) -> list[str]:
    """Contamination probes: tokens no generated vocabulary word contains."""
    return [f"zqprobe{seed % 1000}x{j}z" for j in range(PROBE_COUNT)]


def documents(n_docs: int, seed: int, doc_tokens: int = 120, vocab: int = 4096) -> tuple[pa.Table, dict]:
    """Document corpus with planted hygiene outcomes.

    Returns the table and the outcome counts ``clean_corpus`` must report.
    Ids are laid out so every planted duplicate has a larger id than its
    original, making the original the kept representative:

    - kept: distinct ``doc_tokens``-token documents over a ``vocab``-word
      vocabulary, each with one unique token;
    - exact_dup: byte copies of kept documents;
    - near_dup: a kept document with one of its tokens repeated at the end
      (same token set, different text), so it verifies at Jaccard 1.0;
    - contaminated: a fresh document that embeds one probe token;
    - low_quality: a fresh 12-token document (quality score 0.12).
    """
    n_exact, n_near, n_cont, n_low = (n_docs // 20, n_docs // 10, n_docs // 40, n_docs // 40)
    n_kept = n_docs - n_exact - n_near - n_cont - n_low
    planted = {"kept": n_kept, "exact_dup": n_exact, "near_dup": n_near, "contaminated": n_cont, "low_quality": n_low}

    def fresh(first_id: int, count: int, length: int) -> list[list[str]]:
        rows = np.arange(first_id, first_id + count, dtype=np.int64)
        toks = _draw(seed, rows[:, None] * 256 + np.arange(length - 1)[None, :], 6, vocab)
        return [[f"u{r}s{seed}"] + [f"w{t}" for t in row] for r, row in zip(rows.tolist(), toks.tolist())]

    kept = fresh(0, n_kept, doc_tokens)
    texts = [" ".join(t) for t in kept]
    # distinct originals: two variants of one original would be exact copies of each other
    src = np.argsort(_mix(seed, np.arange(n_kept), 7))[: n_exact + n_near].tolist()
    texts += [texts[s] for s in src[:n_exact]]
    texts += [f"{texts[s]} {kept[s][-1]}" for s in src[n_exact:]]
    cont_first = n_kept + n_exact + n_near
    probe = probes(seed)
    for j, toks in enumerate(fresh(cont_first, n_cont, doc_tokens)):
        toks[len(toks) // 2] = probe[j % PROBE_COUNT]
        texts.append(" ".join(toks))
    texts += [" ".join(t) for t in fresh(cont_first + n_cont, n_low, 12)]
    table = pa.table({"doc_id": pa.array(np.arange(n_docs, dtype=np.int64)), "text": pa.array(texts, pa.string())})
    return table, planted


def _source_hash() -> str:
    with open(__file__, "rb") as fh:
        return hashlib.sha256(fh.read()).hexdigest()[:12]


def cached(cache_root: str, name: str, seed: int, size: int, build) -> str:
    """Directory holding ``build(path)``'s output for (source, name, seed, size);
    ``name`` must spell out every other parameter of ``build``.

    ``build`` writes into a temporary directory that is renamed into place,
    so an interrupted generation never leaves a half-written cache entry.
    """
    path = os.path.join(cache_root, f"{name}-{_source_hash()}-s{seed}-n{size}")
    if not os.path.isdir(path):
        tmp = path + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        build(tmp)
        os.replace(tmp, path)
    return path


def write_files(table: pa.Table, path: str, n_files: int) -> None:
    """Split ``table`` row-wise into ``n_files`` parquet files under ``path``."""
    bounds = np.linspace(0, table.num_rows, n_files + 1).astype(int)
    for k in range(n_files):
        pq.write_table(table.slice(bounds[k], bounds[k + 1] - bounds[k]), os.path.join(path, f"part-{k:04d}.parquet"))
