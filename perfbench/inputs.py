"""Seeded benchmark inputs and their expected outputs.

Everything here is plain Python (numpy, pandas, pyarrow); no Spark
session is needed, so input preparation never warms the JVM that the
benchmark then measures. Inputs are cached under ``.perfbench_work/cache``
per (seed, size) and written atomically (temp dir, then rename).

Transcripts: the repository's ``synth`` conversation generator. A pool of
``POOL_CONV`` regular conversations is generated once per checkout, with
the pure-Python oracle's per-row results alongside. A seed picks a block
of ``N_CONV`` pool conversations plus one hot conversation of its own that
holds ``HOT_FRAC`` of all turns (the skew shape of ``synth``). The stream
workload's small files are the same rows cut into ``STREAM_FILE_TURNS``-row
files in event-time order.

Documents: a fixed random vocabulary. The near-dup corpus is ``N_BASE_DOCS``
random documents, each replicated ``REPLICAS`` times with a seeded
one-token suffix, plus seeded exact and near (one extra token) duplicates.
The passage table carries seeded verbatim blocks copied between disjoint
document pairs. Both are built so that their dedup results are known by
construction (see ``_build_docs``).

Checksums are order-insensitive: the sum over rows of the first 15 hex
digits of md5 over the row's key and payload columns. ``spark_row_hash``
in ``checks.py`` computes the same value in Spark.
"""

from __future__ import annotations

import gc
import hashlib
import json
import multiprocessing
from multiprocessing import resource_tracker
import os
import shutil
import time

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

VERSION = 1  # bump when a generator changes; invalidates every cache

N_CONV = 3000  # regular conversations per seed, on average
REGULAR_TURNS = 40_000  # exact regular turns per seed, so every seed is the same size
POOL_CONV = 4 * N_CONV
POOL_BASE = 1_000_000  # synth index of pool conversation 0
HOT_BASE = 100_000_000  # synth index of the seed's hot conversation
HOT_FRAC = 0.2
STREAM_FILE_TURNS = 2000
TABLE_FILES = 8  # the batch input table is this many parquet files

N_BASE_DOCS = 800
REPLICAS = 10
REPLICA_STRIDE = 10_000
EXACT_FRAC = 0.01
NEAR_FRAC = 0.006
DOC_TOKENS = (120, 240)
N_PASSAGES = 1500
N_BLOCKS = 150
PASSAGE_TOKENS = (60, 120)
BLOCK_TOKENS = (8, 30)
PASSAGE_ID_BASE = 50_000_000
SPAN_K = 4
MIN_SPAN_TOKENS = 6
VOCAB_SIZE = 30_000

KEEP_SEEDS = 12  # per-seed cache entries kept per kind (oldest pruned)

ARROW_TRANSCRIPTS = pa.schema([
    ("conv_id", pa.string()),
    ("turn_idx", pa.int32()),
    ("role", pa.string()),
    ("text", pa.string()),
    ("tool", pa.string()),
    ("ts", pa.timestamp("us", tz="UTC")),
])


def row_hash(*parts) -> int:
    s = "\x1f".join("\x00" if p is None else str(p) for p in parts)
    return int(hashlib.md5(s.encode("utf-8")).hexdigest()[:15], 16)


def _seed_key(seed: int) -> int:
    return seed % (1 << 63)


def _atomic_dir(final: str, build) -> str:
    """Run build(tmp_dir) and publish tmp_dir as `final` unless it exists."""
    if os.path.isdir(final):
        os.utime(final)  # marks recent use for pruning
        return final
    tmp = f"{final}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    build(tmp)
    os.rename(tmp, final)
    return final


def _prune(cache: str, prefix: str, keep: int = KEEP_SEEDS) -> None:
    entries = [
        os.path.join(cache, d) for d in os.listdir(cache)
        if d.startswith(prefix) and ".tmp" not in d
    ]
    entries.sort(key=os.path.getmtime, reverse=True)
    for d in entries[keep:]:
        shutil.rmtree(d, ignore_errors=True)


# -- transcripts -------------------------------------------------------------

def _to_table(pdf: pd.DataFrame) -> pa.Table:
    """Transcript frame → arrow with ts as UTC-adjusted micros, which Spark
    reads back as TIMESTAMP (not TIMESTAMP_NTZ)."""
    pdf = pdf[ARROW_TRANSCRIPTS.names].copy()
    pdf["ts"] = pdf["ts"].astype("datetime64[us]").dt.tz_localize("UTC")
    return pa.Table.from_pandas(pdf, schema=ARROW_TRANSCRIPTS, preserve_index=False)


def oracle_rows(pdf: pd.DataFrame) -> pd.DataFrame:
    """(conv_id, turn_idx, key, h) per input turn from illumio_spark.oracle:
    key is 'sink|event_class', h the row checksum of the sink columns."""
    from illumio_spark import oracle

    out = oracle.run(pdf)
    r, d = out["routed_events"], out["dead_letter"]
    rows = pd.DataFrame({
        "conv_id": pd.concat([r["conv_id"], d["conv_id"]], ignore_index=True),
        "turn_idx": pd.concat([r["turn_idx"], d["turn_idx"]], ignore_index=True).astype("int32"),
        "key": ["routed_events|" + c for c in r["event_class"]] + ["dead_letter|"] * len(d),
        "h": [
            row_hash(*t) for t in zip(
                r["conv_id"], r["turn_idx"], r["event_class"], r["event_type"],
                r["severity"], r["routed_text"],
            )
        ] + [
            row_hash(*t) for t in zip(d["conv_id"], d["turn_idx"], d["raw_text"], d["error_reason"])
        ],
    })
    rows["h"] = rows["h"].astype("int64")
    return rows


def _pool_chunk(bounds: tuple[int, int]) -> tuple[pa.Table, pd.DataFrame]:
    from illumio_spark import synth

    lo, hi = bounds
    pdf = pd.concat([synth._gen_conversation(i) for i in range(lo, hi)], ignore_index=True)
    return _to_table(pdf), oracle_rows(pdf)


def _build_pool(tmp: str, procs: int) -> None:
    step = 250
    chunks = [(lo, min(lo + step, POOL_BASE + POOL_CONV))
              for lo in range(POOL_BASE, POOL_BASE + POOL_CONV, step)]
    ctx = multiprocessing.get_context("spawn")
    with ctx.Pool(processes=procs) as pool:
        parts = pool.map(_pool_chunk, chunks)
    # the spawn pool started multiprocessing's resource tracker, which
    # ignores SIGTERM and would outlive this process; stop it once the
    # pool's semaphores are finalized (they unregister through it)
    del pool
    gc.collect()
    resource_tracker._resource_tracker._stop()
    pq.write_table(pa.concat_tables([t for t, _ in parts]), os.path.join(tmp, "transcripts.parquet"))
    pd.concat([o for _, o in parts], ignore_index=True).to_parquet(
        os.path.join(tmp, "oracle.parquet"), index=False
    )


def transcript_pool(cache: str, procs: int) -> str:
    return _atomic_dir(
        os.path.join(cache, f"pool_v{VERSION}_n{POOL_CONV}"),
        lambda tmp: _build_pool(tmp, procs),
    )


def _aggregate(rows: pd.DataFrame) -> dict:
    """{'sink|event_class': [count, checksum]} — the form every check uses."""
    return {
        k: [int(len(g)), int(sum(int(h) for h in g["h"]))]
        for k, g in rows.groupby("key", sort=True)
    }


def _build_transcripts(tmp: str, pool: str, seed: int) -> None:
    from illumio_spark import synth

    rng = np.random.default_rng([VERSION, 0x7AC5, _seed_key(seed)])
    base = pq.read_table(os.path.join(pool, "transcripts.parquet"))
    # whole pool conversations in seeded order until REGULAR_TURNS, the
    # last one cut short (a turn prefix of a conversation is itself valid)
    sizes = base.group_by("conv_id").aggregate([("turn_idx", "count")]).to_pandas()
    sizes = sizes.set_index("conv_id")["turn_idx_count"]
    order = sizes.index.to_numpy()[rng.permutation(len(sizes))]
    room = REGULAR_TURNS - np.concatenate([[0], np.cumsum(sizes[order].to_numpy())[:-1]])
    limits = pd.Series(np.minimum(room, sizes[order].to_numpy()), index=order)
    limits = limits[limits > 0]

    def keep(t):
        lim = t["conv_id"].to_pandas().map(limits)
        return pa.array(lim.notna() & (t["turn_idx"].to_pandas() < lim.fillna(0)))

    base = base.filter(keep(base))
    orc = pq.read_table(os.path.join(pool, "oracle.parquet"))
    orc = orc.filter(keep(orc)).to_pandas()

    hot_idx = HOT_BASE + _seed_key(seed) % 1_000_000
    hot = synth._gen_conversation(hot_idx, synth.hot_conv_turns(N_CONV + 1, HOT_FRAC))
    table = pa.concat_tables([base, _to_table(hot)])
    tdir = os.path.join(tmp, "transcripts")
    os.makedirs(tdir)
    step = -(-table.num_rows // TABLE_FILES)
    for i in range(TABLE_FILES):
        pq.write_table(table.slice(i * step, step), os.path.join(tdir, f"part-{i:05d}.parquet"))
    rows = pd.concat([orc, oracle_rows(hot)], ignore_index=True)

    # stream files: event-time slices of the same rows
    tdf = table.select(["conv_id", "turn_idx", "ts"]).to_pandas()
    tdf["order"] = np.arange(len(tdf))
    tdf = tdf.sort_values(["ts", "conv_id", "turn_idx"], kind="stable")
    tdf["file"] = np.arange(len(tdf)) // STREAM_FILE_TURNS
    files_rows = rows.merge(tdf[["conv_id", "turn_idx", "file"]], on=["conv_id", "turn_idx"])
    sdir = os.path.join(tmp, "stream")
    os.makedirs(sdir)
    stream_expected = []
    for f, g in tdf.groupby("file", sort=True):
        pq.write_table(table.take(pa.array(g["order"].to_numpy())),
                       os.path.join(sdir, f"turns-{f:05d}.parquet"))
        stream_expected.append(_aggregate(files_rows[files_rows["file"] == f]))
    with open(os.path.join(tmp, "expected.json"), "w") as fh:
        json.dump({
            "n_turns": table.num_rows,
            "batch": _aggregate(rows),
            "stream_files": stream_expected,
        }, fh)


class Transcripts:
    def __init__(self, path: str):
        self.path = path
        self.table = os.path.join(path, "transcripts")
        sdir = os.path.join(path, "stream")
        self.stream_files = sorted(os.path.join(sdir, f) for f in os.listdir(sdir))
        with open(os.path.join(path, "expected.json")) as fh:
            exp = json.load(fh)
        self.n_turns = exp["n_turns"]
        self.expected = exp["batch"]
        self.stream_expected = exp["stream_files"]


def transcripts(cache: str, seed: int, procs: int) -> Transcripts:
    pool = transcript_pool(cache, procs)
    path = _atomic_dir(
        os.path.join(cache, f"transcripts_v{VERSION}_t{REGULAR_TURNS}_s{seed}"),
        lambda tmp: _build_transcripts(tmp, pool, seed),
    )
    _prune(cache, "transcripts_")
    return Transcripts(path)


# -- documents ---------------------------------------------------------------

def _vocab() -> np.ndarray:
    rng = np.random.default_rng(2026)
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words: set[str] = set()
    while len(words) < VOCAB_SIZE:
        words.add("".join(rng.choice(letters, int(rng.integers(4, 9)))))
    return np.array(sorted(words))


def _build_docs(tmp: str, seed: int) -> None:
    vocab = _vocab()
    rng = np.random.default_rng([VERSION, 0xD0C5, _seed_key(seed)])
    draw = lambda lo_hi: vocab[rng.integers(0, len(vocab), int(rng.integers(*lo_hi, endpoint=True)))]  # noqa: E731

    # near-dup corpus: replicas of each base doc differ by one seeded token,
    # so every replica group is one component whose minimum id is the base
    base = [" ".join(draw(DOC_TOKENS)) for _ in range(N_BASE_DOCS)]
    suffix = [f"variant-{t}" for t in vocab[rng.choice(len(vocab), REPLICAS, replace=False)]]
    ids = [i + r * REPLICA_STRIDE for r in range(REPLICAS) for i in range(N_BASE_DOCS)]
    texts = [t if r == 0 else f"{t} {suffix[r]}" for r in range(REPLICAS) for t in base]
    n = len(ids)
    keys = rng.permutation(n)
    n_exact, n_near = int(n * EXACT_FRAC), int(n * NEAR_FRAC)
    near_tok = vocab[rng.integers(0, len(vocab), n_near)]
    for j in keys[:n_exact]:
        ids.append(ids[j] + 10_000_000)
        texts.append(texts[j])
    for j, tok in zip(keys[n_exact:n_exact + n_near], near_tok):
        ids.append(ids[j] + 20_000_000)
        texts.append(f"{texts[j]} near-{tok}")
    corpus = pd.DataFrame({"doc_id": np.array(ids, dtype=np.int64), "text": texts})
    corpus = corpus.sample(frac=1.0, random_state=rng.integers(1 << 31)).reset_index(drop=True)
    corpus.to_parquet(os.path.join(tmp, "corpus.parquet"), index=False)

    # passages: each block is copied from one donor into one recipient, and
    # donors and recipients are disjoint, so each block is one exact span
    toks = [list(draw(PASSAGE_TOKENS)) for _ in range(N_PASSAGES)]
    perm = rng.permutation(N_PASSAGES)
    spans = []
    for d, r in zip(perm[:N_BLOCKS], perm[N_BLOCKS:2 * N_BLOCKS]):
        b = int(rng.integers(*BLOCK_TOKENS, endpoint=True))
        start = int(rng.integers(0, len(toks[d]) - b + 1))
        ins = int(rng.integers(0, len(toks[r]) + 1))
        block = toks[d][start:start + b]
        new = toks[r][:ins] + block + toks[r][ins:]
        # the shared run must end exactly at the block: recipient neighbours
        # may not repeat the donor's neighbours
        for pos, donor_pos in ((ins - 1, start - 1), (ins + b, start + b)):
            if 0 <= pos < len(new) and 0 <= donor_pos < len(toks[d]):
                while new[pos] == toks[d][donor_pos]:
                    new[pos] = vocab[int(rng.integers(0, len(vocab)))]
        toks[r] = new
        spans.append((int(d), start, int(r), ins, b))
    pids = [PASSAGE_ID_BASE + i for i in range(N_PASSAGES)]
    ptexts = [" ".join(t) for t in toks]
    pd.DataFrame({"doc_id": np.array(pids, dtype=np.int64), "text": ptexts}).to_parquet(
        os.path.join(tmp, "passages.parquet"), index=False
    )

    exp_spans, cut = [], {}
    for d, ds, r, rs, b in spans:
        (ia, pa_), (ib, pb) = sorted([(pids[d], ds), (pids[r], rs)])
        exp_spans.append([ia, ib, pa_, pb, b - SPAN_K + 1, b])
        if b >= MIN_SPAN_TOKENS:
            i = ib - PASSAGE_ID_BASE
            cut[i] = " ".join(toks[i][:pb] + toks[i][pb + b:])
    cut_texts = [cut.get(i, t) for i, t in enumerate(ptexts)]
    with open(os.path.join(tmp, "expected.json"), "w") as fh:
        json.dump({
            "n_corpus": len(corpus),
            "n_passages": N_PASSAGES,
            "keepers": [N_BASE_DOCS, sum(row_hash(i, base[i]) for i in range(N_BASE_DOCS))],
            "spans": sorted(exp_spans),
            "cut": [N_PASSAGES, sum(row_hash(i, t) for i, t in zip(pids, cut_texts))],
        }, fh)


class Documents:
    def __init__(self, path: str):
        self.corpus = os.path.join(path, "corpus.parquet")
        self.passages = os.path.join(path, "passages.parquet")
        with open(os.path.join(path, "expected.json")) as fh:
            self.expected = json.load(fh)
        self.n_docs = self.expected["n_corpus"] + self.expected["n_passages"]


def documents(cache: str, seed: int) -> Documents:
    path = _atomic_dir(
        os.path.join(cache, f"docs_v{VERSION}_n{N_BASE_DOCS}x{REPLICAS}_s{seed}"),
        lambda tmp: _build_docs(tmp, seed),
    )
    _prune(cache, "docs_")
    return Documents(path)


def prepare(workload: str, cache: str, seed: int, procs: int):
    """The workload's inputs and the seconds their preparation took."""
    os.makedirs(cache, exist_ok=True)
    t0 = time.perf_counter()
    inp = documents(cache, seed) if workload == "dedup_curation" else transcripts(cache, seed, procs)
    return inp, time.perf_counter() - t0
