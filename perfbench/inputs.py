"""Seeded, cached benchmark inputs.

Every input is a pure function of (workload, seed, size). An entry is
built in a scratch directory next to the cache and renamed into place
in one step, so a run that dies half-way never leaves a partial entry
that a later run would trust. Inputs are written as several parquet
files per core so no scan collapses into a single task.

Only the fixture generator and the golden transcription
(``mistral_ocr_app_spark.fixtures``) are used here: they are the
repository's reference semantics, written independently of the engine
paths the benchmark times.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# Row counts per size. "full" is what the benchmark measures; "tiny"
# is the smoke-test size (one pass per workload in a few seconds).
SIZES = {
    "extract_commit": {"full": {"convs": 600, "chunks": 4, "copies": 2},
                       "tiny": {"convs": 40, "chunks": 2}},
    # heavy conversation just above assemble_auto's 65,536-turn default
    # threshold, so both the flat and the chunked branch run
    "assemble_skewed": {"full": {"heavy_turns": 66_000, "light_turns": 20_000},
                        "tiny": {"heavy_turns": 1_200, "light_turns": 800}},
    "dedup_docs": {"full": {"sources": 1_000}, "tiny": {"sources": 120}},
}

# assemble_skewed's tiny size needs a threshold under its heavy
# conversation; the full size uses assemble_auto's own default
ASSEMBLE_THRESHOLD = {"full": 65_536, "tiny": 1_000}


def _write_splits(df: pd.DataFrame, out_dir: str, n_files: int) -> None:
    table = pa.Table.from_pandas(df, preserve_index=False)
    step = -(-table.num_rows // n_files)
    for i in range(n_files):
        pq.write_table(table.slice(i * step, step),
                       os.path.join(out_dir, f"part-{i:03d}.parquet"))


def _sub_seed(seed: int, i: int) -> int:
    return int(np.random.SeedSequence([seed, i]).generate_state(1)[0] % 2**31)


# ------------------------------------------------------ extract_commit ----


def _transcript_chunk(seed: int, chunk: int, n_convs: int, out: str) -> None:
    """One independently seeded slice of the fixture generator's default
    payload mix (markdown, plain, HTML, mock document, base64, spans),
    written as ``out/chunk-<i>.{transcripts,golden}.parquet``."""
    from mistral_ocr_app_spark.fixtures.transcripts import generate_transcripts

    tr, gt, _ = generate_transcripts(
        n_convs=n_convs, seed=_sub_seed(seed, chunk), heavy_convs=0
    )
    prefix = f"c{chunk:02d}-"
    tr["conv_id"] = prefix + tr["conv_id"]
    gt["conv_id"] = prefix + gt["conv_id"]
    tr.to_parquet(os.path.join(out, f"chunk-{chunk}.transcripts.parquet"), index=False)
    gt.to_parquet(os.path.join(out, f"chunk-{chunk}.golden.parquet"), index=False)


def _build_extract(out: str, seed: int, spec: dict, n_files: int) -> dict:
    """Chunks are generated in parallel child processes, each waited for.

    The generated conversations are then repeated ``copies`` times under
    new conversation ids. A turn's extraction depends on its payload and
    turn index only, so each copy's golden rows are the original's, and
    the pass does ``copies`` times the per-turn work for the generation
    cost of one."""
    per_chunk = -(-spec["convs"] // spec["chunks"])
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    procs = [subprocess.Popen([sys.executable, "-m", "perfbench.inputs", str(seed),
                               str(c), str(per_chunk), out], cwd=root)
             for c in range(spec["chunks"])]
    codes = [proc.wait() for proc in procs]
    if any(codes):
        raise RuntimeError(f"input chunk generators exited {codes}")
    read = lambda kind: pd.concat(  # noqa: E731
        [pd.read_parquet(os.path.join(out, f"chunk-{c}.{kind}.parquet"))
         for c in range(spec["chunks"])], ignore_index=True)
    transcripts, golden = read("transcripts"), read("golden")
    copies = spec.get("copies", 1)
    if copies > 1:
        def repeat(df):
            parts = []
            for k in range(copies):
                part = df.copy()
                part["conv_id"] = f"r{k}-" + part["conv_id"]
                parts.append(part)
            return pd.concat(parts, ignore_index=True)

        order = np.random.RandomState(seed).permutation(len(transcripts) * copies)
        transcripts = repeat(transcripts).iloc[order].reset_index(drop=True)
        golden = repeat(golden)
    for c in range(spec["chunks"]):
        for kind in ("transcripts", "golden"):
            os.remove(os.path.join(out, f"chunk-{c}.{kind}.parquet"))
    os.makedirs(os.path.join(out, "transcripts"))
    _write_splits(transcripts, os.path.join(out, "transcripts"), n_files)
    golden.to_parquet(os.path.join(out, "golden_turns.parquet"), index=False)
    return {"rows": len(transcripts), "convs": int(transcripts["conv_id"].nunique())}


# ----------------------------------------------------- assemble_skewed ----

_WORDS = (
    "data spark engine turn page document text extract pipeline table "
    "cluster shuffle window order batch arrow vector column parse token "
    "image figure caption result metric golden fixture stable lineage "
    "partition schema append commit resume salt skew broadcast"
).split()


def _build_assemble(out: str, seed: int, spec: dict, n_files: int) -> dict:
    """Cheap plain-text payloads over heavy-tailed conversation
    lengths: one conversation above the assembly threshold, the rest
    Pareto-distributed, so exchange and reduce do the work.

    The input is the per-turn table in the layout a lineage commit
    leaves under ``<output>/data`` (the extraction schema, one directory
    per conversation bucket), with every column taken from the golden
    extraction. Writing it here keeps extraction out of this workload's
    set-up. ``n_files`` is unused: the bucket directories are the splits."""
    import zlib

    from mistral_ocr_app_spark.fixtures.golden import (
        golden_assemble_conversation,
        golden_extract_turn,
    )

    rng = np.random.RandomState(seed)
    # the lengths are seed-independent and only their order is seeded:
    # a pass's cost follows the number of conversations, which a
    # per-seed Pareto draw moved by a factor of two between seeds
    shape_rng = np.random.RandomState(7)
    light = []
    left = spec["light_turns"]
    while left > 0:
        n = min(left, int(min(2 + shape_rng.pareto(1.2) * 8, 4000)))
        light.append(n)
        left -= n
    lengths = [spec["heavy_turns"]] + rng.permutation(light).tolist()
    n_rows = sum(lengths)
    n_words = rng.randint(30, 90, size=n_rows)
    picks = np.array(_WORDS)[rng.randint(0, len(_WORDS), size=int(n_words.sum()))].tolist()
    ends = np.cumsum(n_words).tolist()
    texts = [" ".join(picks[e - k:e]).capitalize() + "."
             for e, k in zip(ends, n_words.tolist())]

    conv_ids = [f"conv-{c:06d}" for c in range(len(lengths))]
    turn_idx = np.concatenate([np.arange(n, dtype="int32") for n in lengths])
    gold = [golden_extract_turn(t, "", i) for t, i in zip(texts, turn_idx.tolist())]
    gold_rows, pos = [], 0
    for cid, n in zip(conv_ids, lengths):
        turns = [(i, g["extracted_text"]) for i, g in enumerate(gold[pos:pos + n])]
        gold_rows.append((cid, n, golden_assemble_conversation(turns)["combined_app"]))
        pos += n
    buckets = [zlib.crc32(cid.encode()) % 64 for cid in conv_ids]
    table = pa.table({
        "conv_id": pa.array(np.repeat(conv_ids, lengths).tolist(), pa.string()),
        "turn_idx": pa.array(turn_idx),
        "role": pa.array(np.array(["user", "assistant", "tool"])[turn_idx % 3].tolist()),
        "ts": pa.array(np.datetime64("2024-01-01T00:00:00", "us")
                       + turn_idx.astype("timedelta64[s]"), pa.timestamp("us", tz="UTC")),
        **{k: pa.array([g[k] for g in gold], pa.string())
           for k in ("kind", "extracted_text")},
        **{k: pa.array([g[k] for g in gold], pa.int32())
           for k in ("n_refs", "n_images", "n_rewritten", "n_spans")},
        "valid": pa.array([g["valid"] for g in gold], pa.bool_()),
        "bucket": pa.array(np.repeat(buckets, lengths), pa.int32()),
    }).take(pa.array(rng.permutation(n_rows)))
    pq.write_to_dataset(table, os.path.join(out, "data"), partition_cols=["bucket"])
    pd.DataFrame(gold_rows, columns=["conv_id", "n_turns", "combined_app"]).to_parquet(
        os.path.join(out, "golden_convs.parquet"), index=False
    )
    return {"rows": n_rows, "convs": len(lengths), "heavy_convs": 1,
            "max_turns": max(lengths)}


# ---------------------------------------------------------- dedup_docs ----


def _build_dedup(out: str, seed: int, spec: dict, n_files: int) -> dict:
    """Source documents plus planted copies of them.

    Exact copies repeat a source byte for byte. Near copies change the
    bytes but not the lower-cased whitespace token set (case flips and a
    repeated word), so their MinHash signature equals the source's and
    the planted pair is a certain LSH candidate with Jaccard 1 — the
    expected canonical of every planted copy is therefore known without
    trusting the engine. Background pairs of sources share only common
    vocabulary and are the candidates verification must reject."""
    rng = np.random.RandomState(seed)
    vocab_rng = np.random.RandomState(7)  # vocabulary is seed-independent
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    vocab = np.array(["".join(vocab_rng.choice(letters, size=int(k)))
                      for k in vocab_rng.randint(3, 10, size=20_000)])
    weights = 1.0 / (np.arange(len(vocab)) + 50.0)
    weights /= weights.sum()

    n_src = spec["sources"]
    lens = rng.randint(80, 200, size=n_src)
    toks = vocab[rng.choice(len(vocab), size=int(lens.sum()), p=weights)]
    ends = np.cumsum(lens)
    texts = [" ".join(toks[e - k:e]) for e, k in zip(ends.tolist(), lens.tolist())]

    docs = list(texts)
    copy_of = []  # (copy doc index, source doc index)
    n_copies = n_src // 2
    for src in rng.randint(0, n_src, size=n_copies).tolist():
        words = texts[src].split(" ")
        if rng.rand() < 0.4:
            text = texts[src]
        else:
            for i in rng.randint(0, len(words), size=3).tolist():
                words[i] = words[i].upper()
            j = int(rng.randint(0, len(words)))
            words.insert(j, words[j].lower())
            text = " ".join(words)
        copy_of.append((len(docs), src))
        docs.append(text)
    order = rng.permutation(len(docs))
    doc_id = np.empty(len(docs), dtype="int64")
    doc_id[order] = np.arange(len(docs), dtype="int64") * 7 + 1000
    frame = pd.DataFrame({"doc_id": doc_id, "text": docs}).iloc[order]
    os.makedirs(os.path.join(out, "documents"))
    _write_splits(frame, os.path.join(out, "documents"), n_files)
    pd.DataFrame({
        "copy_id": [int(doc_id[c]) for c, _ in copy_of],
        "source_id": [int(doc_id[s]) for _, s in copy_of],
    }).to_parquet(os.path.join(out, "planted.parquet"), index=False)
    return {"rows": len(docs), "sources": n_src, "copies": len(copy_of)}


_BUILDERS = {
    "extract_commit": _build_extract,
    "assemble_skewed": _build_assemble,
    "dedup_docs": _build_dedup,
}


def ensure_inputs(cache_dir: str, workload: str, seed: int, size: str,
                  n_files: int) -> tuple[str, dict, float]:
    """Path of the (workload, seed, size) entry, its metadata, and the
    seconds spent building it (0 on a cache hit). The key spells out the
    size's parameters and a hash of this module, so changing either
    never reuses a stale entry."""
    spec = SIZES[workload][size]
    tag = "-".join(f"{k}{v}" for k, v in sorted(spec.items()))
    with open(__file__, "rb") as f:  # a changed generator never reuses an entry
        code = hashlib.sha1(f.read()).hexdigest()[:8]
    key = f"{workload}-s{seed}-{size}-{tag}-f{n_files}-{code}"
    path = os.path.join(cache_dir, "inputs", key)
    meta_path = os.path.join(path, "meta.json")
    if os.path.exists(meta_path):
        with open(meta_path) as f:
            return path, json.load(f), 0.0
    t0 = time.perf_counter()
    scratch = f"{path}.tmp-{os.getpid()}"
    shutil.rmtree(scratch, ignore_errors=True)
    os.makedirs(scratch)
    try:
        meta = _BUILDERS[workload](scratch, seed, spec, n_files)
        meta.update({"workload": workload, "seed": seed, "size": size})
        with open(os.path.join(scratch, "meta.json"), "w") as f:
            json.dump(meta, f)
        try:
            os.rename(scratch, path)
        except OSError:  # another run published the same entry first
            if not os.path.exists(meta_path):
                raise
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    with open(meta_path) as f:
        return path, json.load(f), time.perf_counter() - t0


if __name__ == "__main__":  # one extract_commit chunk: seed chunk n_convs out_dir
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    _transcript_chunk(int(sys.argv[1]), int(sys.argv[2]), int(sys.argv[3]), sys.argv[4])
