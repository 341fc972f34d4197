"""Seeded inputs for the benchmark workloads.

Every input is a pure function of (workload, seed, INPUTS_VERSION) and is
written as parquet under ``<work>/inputs/<workload>-s<seed>/``, where it is
cached: a second run with the same seed reuses the files. Nothing is written
into the repository's ``synthdata/`` tree.

Transcripts reuse ``ictspark.synth``'s grammar (``_conv_specs`` / ``_gen_conv``
take the rng); documents and embeddings follow the ``ensure_documents`` /
``ensure_embeddings`` recipes with the seed folded into their rng.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from ictspark import synth
from ictspark.extras.similarity import IVF_K, N_QUERIES

INPUTS_VERSION = 2

# reports_batch: one sf0.1-shaped corpus at a tenth of the conversations, in
# several files so the scan splits across tasks
REPORT_CONVS = 3000
REPORT_FILES = 8

# curation_docs: per-operator time on 4 CPUs is mostly per-job overhead
# up to ~5k docs, so a small corpus keeps a run inside the time budget
CURATION_DOCS = 600
CURATION_VECS = 600

# embedding near-dups start past the fixed-centroid seed ids
# (vec_id in [N_QUERIES, N_QUERIES + IVF_K)) so the seeds stay distinct
EMB_PLANT_FROM = N_QUERIES + IVF_K + 8


def _rng_seed(seed: int, tag: str) -> int:
    return (seed * 1_000_003 + synth._crc(tag)) % (2**32)


def _transcripts(seed: int, n_convs: int, tag: str) -> pa.Table:
    """``n_convs`` conversations of the synth grammar."""
    rng = np.random.RandomState(_rng_seed(seed, tag))
    pool = synth.step_pool()
    changed = synth.limit_changes_steps(pool)
    buf = synth._Buf()
    for conv_id, i in synth._conv_specs(rng, n_convs):
        synth._gen_conv(rng, buf, conv_id, i, pool, changed)
    return buf.table()


def documents(seed: int, n: int) -> pa.Table:
    """``synth.ensure_documents``'s recipe (exact dups, near-dup families,
    rare tokens, boilerplate) with a seeded rng."""
    rng = np.random.default_rng(_rng_seed(seed, "docs"))
    vocab = synth.DOC_VOCAB
    texts: list[str] = []
    langs: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 0 and r < 0.005:
            texts.append(texts[-1])
            langs.append(langs[-1])
            continue
        if i > 0 and r < 0.08:
            toks = texts[-1].split(" ")
            toks[int(rng.integers(0, len(toks)))] = vocab[int(rng.integers(0, 31))]
            texts.append(" ".join(toks))
            langs.append(langs[-1])
            continue
        length = int(rng.integers(30, 91))
        toks = [vocab[int(j)] for j in rng.integers(0, 31, size=length)]
        for _ in range(int(rng.integers(2, 7))):
            toks[int(rng.integers(0, length))] = f"rt{int(rng.integers(0, n))}q{i % 97}"
        if rng.random() < 0.3:
            toks = synth.DOC_BOILER.split(" ") + toks
        texts.append(" ".join(toks))
        langs.append(synth.DOC_LANGS[int(rng.choice(5, p=synth.DOC_LANG_W))])
    return pa.table(
        {
            "doc_id": pa.array(range(n), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(langs, pa.string()),
            "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def embeddings(seed: int, n: int) -> pa.Table:
    """``synth.ensure_embeddings``'s recipe (weak label structure plus planted
    ~0.9-cosine near-dup pairs) with a seeded rng."""
    rng = np.random.default_rng(_rng_seed(seed, "emb"))
    centers = rng.standard_normal((synth.N_EMB_LABELS, synth.EMB_DIM))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    labels = np.arange(n) % synth.N_EMB_LABELS
    vecs = 0.1 * centers[labels] + 0.1 * rng.standard_normal((n, synth.EMB_DIM))
    for i in range(EMB_PLANT_FROM, n, synth.EMB_NEAR_DUP_EVERY):
        vecs[i] = vecs[i - 1] + 0.035 * rng.standard_normal(synth.EMB_DIM)
        labels[i] = labels[i - 1]
    return pa.table(
        {
            "vec_id": pa.array(range(n), pa.int64()),
            "embedding": pa.array([row.astype(np.float32) for row in vecs], pa.list_(pa.float32())),
            "label": pa.array(labels.astype(np.int32), pa.int32()),
        }
    )


def _write_dims(out: str) -> None:
    for name, tbl in synth._dims().items():
        pq.write_table(tbl, os.path.join(out, f"{name}.parquet"))


def _gen_reports_batch(seed: int, out: str) -> dict:
    tbl = _transcripts(seed, REPORT_CONVS, "reports")
    tdir = os.path.join(out, "transcripts.parquet")
    os.makedirs(tdir)
    # whole conversations per file, as synth.ensure splits them
    conv = tbl.column("conv_id").to_pylist()
    per = (len(conv) + REPORT_FILES - 1) // REPORT_FILES
    start = 0
    for part in range(REPORT_FILES):
        end = min(len(conv), start + per)
        while 0 < end < len(conv) and conv[end] == conv[end - 1]:
            end += 1
        pq.write_table(tbl.slice(start, end - start), os.path.join(tdir, f"part-{part:04d}.parquet"))
        start = end
    _write_dims(out)
    return {"convs": REPORT_CONVS, "turns": tbl.num_rows, "files": REPORT_FILES}


def _gen_curation_docs(seed: int, out: str) -> dict:
    pq.write_table(documents(seed, CURATION_DOCS), os.path.join(out, "documents.parquet"))
    pq.write_table(embeddings(seed, CURATION_VECS), os.path.join(out, "embeddings.parquet"))
    return {"docs": CURATION_DOCS, "vectors": CURATION_VECS}


GENERATORS = {
    "reports_batch": _gen_reports_batch,
    "curation_docs": _gen_curation_docs,
}


# generator parameters per workload: a cached input made with others is redone
PARAMS = {
    "reports_batch": [REPORT_CONVS, REPORT_FILES],
    "curation_docs": [CURATION_DOCS, CURATION_VECS, EMB_PLANT_FROM],
}


def ensure(work: str, workload: str, seed: int) -> tuple[str, dict]:
    """Generate (once per seed) and return (input dir, its size record)."""
    out = os.path.join(work, "inputs", f"{workload}-s{seed}")
    meta_path = os.path.join(out, "_meta.json")
    if os.path.exists(meta_path):
        with open(meta_path) as f:
            meta = json.load(f)
        if meta.get("version") == INPUTS_VERSION and meta.get("params") == PARAMS[workload]:
            return out, meta["sizes"]
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    sizes = GENERATORS[workload](seed, out)
    # the meta file is written last: a torn generation is redone next run
    with open(meta_path, "w") as f:
        json.dump({"version": INPUTS_VERSION, "params": PARAMS[workload], "seed": seed, "sizes": sizes}, f)
    return out, sizes
