"""Seeded input generation for the benchmark workloads.

Everything here runs outside every timed window. The same seed always
yields byte-identical inputs, which are cached under the checkout's
`.perfbench/cache/` directory keyed by (workload, seed, scale, version).

Documents follow the shape of the repository's `documents` table: a
31-word vocabulary, 8-96 words per text, an en-heavy language mix and 20
sources. Pages are built from documents with the package's own pure-row
functions (`bocadillo_spark.synth`), so every fixture predicate (empty
html, `unknown` lang, dark zh hosts, invalid UTF-8) fires at its natural
doc_id rate.
"""

from __future__ import annotations

import json
import os
import shutil
import threading
import time
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

GEN_VERSION = 1

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)
N_SOURCES = 20
MIN_WORDS, MAX_WORDS = 8, 96
# replica r's doc_ids live in [offset_r, offset_r + DOC_RANGE); offsets are
# distinct multiples of DOC_RANGE drawn from the seed. Every doc_id stays
# below 3e9: the DSIR accept gate computes doc_id * 2654435761 in a long,
# which overflows (an ANSI error) from doc_id ~3.47e9 on.
DOC_RANGE = 10_000_000
OFFSET_SLOTS = 300
# the word-suffix replica map leaves the quality gate's stop words alone so
# the gate's stop-ratio predicate keeps its natural rate in every replica
STOP_WORDS = frozenset({"the", "a"})
# near-duplicate plant of operators.dedup.augment_with_near_dups
NEAR_DUP_MOD = 10
NEAR_DUP_STRIDE = 500_000
NEAR_DUP_TAIL = " zz yy"

PAGES_ARROW = pa.schema(
    [
        pa.field("url", pa.string(), nullable=False),
        pa.field("warc_ts", pa.timestamp("us", tz="UTC")),
        pa.field("html", pa.binary()),
        pa.field("text", pa.string()),
        pa.field("lang", pa.string()),
    ]
)


def base_documents(seed: int, n: int) -> pd.DataFrame:
    """n documents (doc_id 0..n-1, lang, source, text) drawn from `seed`."""
    rng = np.random.default_rng(seed)
    n_words = rng.integers(MIN_WORDS, MAX_WORDS + 1, size=n)
    words = rng.integers(0, len(VOCAB), size=int(n_words.sum()))
    vocab = np.array(VOCAB, dtype=object)
    texts, pos = [], 0
    for k in n_words:
        texts.append(" ".join(vocab[words[pos:pos + k]]))
        pos += k
    doc_id = np.arange(n, dtype=np.int64)
    return pd.DataFrame(
        {
            "doc_id": doc_id,
            "lang": rng.choice(LANGS, size=n, p=LANG_P),
            "source": [f"src{i % N_SOURCES}" for i in doc_id],
            "text": texts,
        }
    )


def replica_offsets(seed: int, replicas: int) -> list[int]:
    """Distinct, seed-chosen doc_id range starts (multiples of DOC_RANGE)."""
    rng = np.random.default_rng([seed, 1])
    slots = rng.choice(OFFSET_SLOTS, size=replicas, replace=False)
    return sorted(int(s) * DOC_RANGE for s in slots)


# ------------------------------------------------------------------ pages


def page_rows(doc_ids, texts, langs, sources) -> pa.Table:
    from bocadillo_spark.synth import synth_page_row

    rows = [
        synth_page_row(int(d), t, l, s)
        for d, t, l, s in zip(doc_ids, texts, langs, sources)
    ]
    return pa.Table.from_pylist(rows, schema=PAGES_ARROW)


def replicated_pages(seed: int, base_docs: int, replicas: int) -> pd.DataFrame:
    """(doc_id, text, lang, source) of every page: the base documents
    replicated over disjoint seed-chosen doc_id ranges."""
    base = base_documents(seed, base_docs)
    parts = []
    for off in replica_offsets(seed, replicas):
        part = base.copy()
        part["doc_id"] = part["doc_id"] + off
        parts.append(part)
    return pd.concat(parts, ignore_index=True)


def write_page_files(docs: pd.DataFrame, out_dir: str, n_files: int,
                     prefix: str = "part") -> dict[str, pd.DataFrame]:
    """Write pages as `n_files` parquet files of near-equal size, in a
    seed-independent round-robin order (every file sees every replica).
    Returns each file's documents by file name."""
    os.makedirs(out_dir, exist_ok=True)
    names = {}
    for i in range(n_files):
        part = docs.iloc[i::n_files]
        name = f"{prefix}-{i:05d}.parquet"
        pq.write_table(
            page_rows(part["doc_id"], part["text"], part["lang"], part["source"]),
            os.path.join(out_dir, name),
        )
        names[name] = part
    return names


# ----------------------------------------------------------- curation corpus


def near_dup_augmented(docs: pd.DataFrame) -> pd.DataFrame:
    """Python twin of operators.dedup.augment_with_near_dups, keeping lang
    and source: every 10th doc gets a variant (two tokens appended)."""
    v = docs[docs["doc_id"] % NEAR_DUP_MOD == 0].copy()
    v["doc_id"] = v["doc_id"] + NEAR_DUP_STRIDE
    v["text"] = v["text"] + NEAR_DUP_TAIL
    return pd.concat([docs, v], ignore_index=True)


def suffix_words(text: str, tag: str) -> str:
    return " ".join(w if w in STOP_WORDS else f"{w}_{tag}" for w in text.split(" "))


def curation_corpus(seed: int, base_docs: int, replicas: int) -> tuple[pd.DataFrame, list]:
    """Word-suffix replica corpus (the bench.py construction): replica r
    offsets doc_ids into its own range and suffixes every word with a
    replica tag, so no shingle, window or bucket is shared across
    replicas while within-replica structure (planted near-dups, Jaccard
    values) is preserved exactly. Replica 0 keeps the plain words.
    Returns the corpus and its planted (original, variant) doc_id pairs."""
    aug = near_dup_augmented(base_documents(seed, base_docs))
    originals = aug["doc_id"][aug["doc_id"] % NEAR_DUP_MOD == 0]
    originals = originals[originals < NEAR_DUP_STRIDE].to_numpy()
    parts, plants = [], []
    for r, off in enumerate(replica_offsets(seed, replicas)):
        plants += [(int(d + off), int(d + off + NEAR_DUP_STRIDE)) for d in originals]
        part = aug.copy()
        part["doc_id"] = part["doc_id"] + off
        if r:
            tag = str(r)
            part["text"] = [suffix_words(t, tag) for t in part["text"]]
        parts.append(part)
    corpus = pd.concat(parts, ignore_index=True)[["doc_id", "lang", "source", "text"]]
    return corpus, plants


# ------------------------------------------------------------------- cache


@dataclass
class Inputs:
    """A generated input set on disk plus its description."""

    root: str
    meta: dict = field(default_factory=dict)

    def path(self, *parts: str) -> str:
        return os.path.join(self.root, *parts)


CACHE_KEEP = 4  # input sets kept per workload (oldest evicted first)


def cached(cache_dir: str, key: str, build) -> tuple[Inputs, float]:
    """Return (inputs, seconds spent generating); `build(tmp_root)` writes
    a fresh set and returns its meta dict. Built into a temp directory and
    renamed into place, so an interrupted build never looks complete."""
    root = os.path.join(cache_dir, key)
    done = os.path.join(root, "_meta.json")
    t0 = time.perf_counter()
    if not os.path.exists(done):
        os.makedirs(cache_dir, exist_ok=True)
        tmp = f"{root}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        meta = build(tmp)
        with open(os.path.join(tmp, "_meta.json"), "w") as f:
            json.dump(meta, f)
        shutil.rmtree(root, ignore_errors=True)
        os.rename(tmp, root)
        _evict(cache_dir, key.split("-", 1)[0], keep=root)
    with open(done) as f:
        meta = json.load(f)
    os.utime(done)
    return Inputs(root, meta), time.perf_counter() - t0


def _evict(cache_dir: str, prefix: str, keep: str) -> None:
    sets = [
        os.path.join(cache_dir, d)
        for d in os.listdir(cache_dir)
        if d.startswith(prefix + "-") and os.path.exists(os.path.join(cache_dir, d, "_meta.json"))
    ]
    sets.sort(key=lambda d: os.path.getmtime(os.path.join(d, "_meta.json")))
    for d in sets[:-CACHE_KEEP]:
        if d != keep:
            shutil.rmtree(d, ignore_errors=True)


# ----------------------------------------------------------- stream dropper


class FileDropper:
    """Open-loop file generator for the streaming workload.

    File i is due at start + i / rate regardless of how the system under
    test is doing; at its due time it is renamed from the staging
    directory into the watched directory (an atomic, complete arrival).
    Each file's visible time is stamped right after the rename, and how
    late the dropper ran against the schedule is kept per file."""

    def __init__(self, staging: str, watched: str, names: list[str], rate: float):
        self.staging, self.watched = staging, watched
        self.names, self.rate = list(names), rate
        self.visible: dict[str, float] = {}  # file name -> wall-clock seconds
        self.late_s: list[float] = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="file-dropper", daemon=True)

    def start(self) -> None:
        self.t0 = time.time()
        self._thread.start()

    def _run(self) -> None:
        for i, name in enumerate(self.names):
            due = self.t0 + i / self.rate
            if self._stop.wait(max(0.0, due - time.time())):
                return
            os.rename(os.path.join(self.staging, name), os.path.join(self.watched, name))
            now = time.time()
            self.visible[name] = now
            self.late_s.append(now - due)

    def join(self, timeout: float) -> bool:
        self._thread.join(timeout)
        return not self._thread.is_alive()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(5)
