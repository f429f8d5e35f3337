"""Seeded input generator for the benchmark workloads.

Two inputs, both a pure function of (seed, scale):
  - frame: a CSV directory shaped like the paper's diabetes data
    (9 numeric columns, the value ranges graft.ScaleSmoke draws);
  - corpus: `documents` and `embeddings` parquet tables shaped like
    the sf0.1 test corpus (5 000 documents over a 30-word vocabulary,
    2 000 unit-norm 64-d embeddings with 10 labels), with planted
    exact and near duplicates so the dedup lanes find real pairs.

The seed sets every value, the row order of both tables and the
frame's split into files.
"""
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

VOCAB = ("a the data row column table key value part line order customer "
         "query scan filter sort group join agg hash merge window stream "
         "batch vector spark big small fast slow").split()
LANGS = ["en", "fr", "es", "zh", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
FRAME_COLS = [
    # name, draw(rng, n)
    ("Pregnancies", lambda r, n: r.integers(0, 17, n)),
    ("Glucose", lambda r, n: r.integers(0, 200, n)),
    ("BloodPressure", lambda r, n: r.integers(0, 122, n)),
    ("SkinThickness", lambda r, n: r.integers(0, 99, n)),
    ("Insulin", lambda r, n: r.integers(0, 846, n)),
    ("BMI", lambda r, n: np.round(r.random(n) * 67.1, 1)),
    ("DiabetesPedigreeFunction", lambda r, n: np.round(r.random(n) * 2.42, 3)),
    ("Age", lambda r, n: r.integers(21, 81, n)),
    ("Outcome", lambda r, n: r.integers(0, 2, n)),
]


def _fresh(path):
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)


def _bytes_under(path):
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def frame(out_dir, seed, rows):
    """Writes the frame CSV as 3-6 part files with headers."""
    rng = np.random.default_rng([seed, 1])
    _fresh(out_dir)
    cols = {name: draw(rng, rows) for name, draw in FRAME_COLS}
    n_files = int(rng.integers(3, 7))
    bounds = np.linspace(0, rows, n_files + 1).astype(int)
    table = pa.table(cols)
    opts = pacsv.WriteOptions(include_header=True, quoting_style="none")
    for i in range(n_files):
        part = table.slice(bounds[i], bounds[i + 1] - bounds[i])
        pacsv.write_csv(part, os.path.join(out_dir, f"part-{i:05d}.csv"), opts)
    return {"frame_rows": rows, "frame_files": n_files,
            "frame_bytes": _bytes_under(out_dir)}


def _doc_texts(rng, n):
    texts = []
    n_exact = n // 100
    n_near = n // 10
    for i in range(n):
        r = rng.random()
        if i > 0 and r < n_exact / n:
            texts.append(texts[int(rng.integers(0, i))])
        elif i > 0 and r < (n_exact + n_near) / n:
            words = texts[int(rng.integers(0, i))].split(" ")
            for _ in range(max(1, len(words) // 12)):
                words[int(rng.integers(0, len(words)))] = VOCAB[int(rng.integers(0, len(VOCAB)))]
            texts.append(" ".join(words))
        else:
            k = int(rng.integers(8, 91))
            texts.append(" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), k)))
    return texts


def corpus(out_dir, seed, docs, vecs, dim=64):
    """Writes <out_dir>/documents.parquet and embeddings.parquet."""
    rng = np.random.default_rng([seed, 2])
    _fresh(out_dir)
    texts = _doc_texts(rng, docs)
    order = rng.permutation(docs)
    documents = pa.table({
        "doc_id": pa.array(order, pa.int64()),
        "text": pa.array([texts[i] for i in order], pa.string()),
        "lang": pa.array(rng.choice(LANGS, docs, p=LANG_P), pa.string()),
        "source": pa.array([f"src{i % 20}" for i in order], pa.string()),
        "n_chars": pa.array([len(texts[i]) for i in order], pa.int64()),
    })
    pq.write_table(documents, os.path.join(out_dir, "documents.parquet"))
    v = rng.standard_normal((vecs, dim)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    order = rng.permutation(vecs)
    embeddings = pa.table({
        "vec_id": pa.array(order, pa.int64()),
        "embedding": pa.array(list(v[order]), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, vecs)[order], pa.int32()),
    })
    pq.write_table(embeddings, os.path.join(out_dir, "embeddings.parquet"))
    return {"documents_rows": docs, "embeddings_rows": vecs,
            "corpus_bytes": _bytes_under(out_dir)}
