"""Seeded corpus generator for the benchmark workloads.

The engine only ever sees the parquet tables written here. Their schemas
match the repo's test tables (`documents`, `embeddings`), and their text
follows the test corpus's measured properties: a 30-word vocabulary drawn
uniformly, 10..100 words per document (uniform), the lang mix
en .41 / zh .15 / es .15 / fr .15 / de .14, `source = src{doc_id % 20}`,
and `n_chars = len(text)`.

Usage: python3 perfbench/gen.py <workload> <seed> <out_dir>
"""
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("a agg batch big column customer data fast filter group hash join "
         "key line merge order part query row scan slow small sort spark "
         "stream table the value vector window").split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]

# Per-workload corpus shape. The sizes keep one iteration to a few
# seconds on 4 cores, so a run fits several iterations (see README).
SHAPES = {
    # the reference's request traffic: byte-identical request bodies,
    # written as several part files like a Spark-produced table
    "batch_pipeline": dict(docs=4000, parts=8, exact_dup=0.05, near_dup=0.0),
    # the training corpus: near-duplicate families (a copy of an earlier
    # document with one appended token, as in the test corpus) and
    # embeddings for the similarity stages
    "curation": dict(docs=500, parts=1, exact_dup=0.0, near_dup=0.05,
                     vectors=500, dim=64, labels=10),
}

DOC_SCHEMA = pa.schema([("doc_id", pa.int64()), ("text", pa.string()),
                        ("lang", pa.string()), ("source", pa.string()),
                        ("n_chars", pa.int64())])
EMB_SCHEMA = pa.schema([("vec_id", pa.int64()),
                        ("embedding", pa.list_(pa.field("element", pa.float32()))),
                        ("label", pa.int32())])


def documents(rng, n, exact_dup, near_dup):
    """Returns (columns, families). A near-duplicate copies an original
    document's text and appends ' dup'; an exact duplicate copies text
    and lang, so the whole request body is byte-identical. Copies are
    taken only from originals, so each original with copies is one
    family."""
    lens = rng.integers(10, 101, size=n)
    words = rng.integers(0, len(VOCAB), size=int(lens.sum()))
    cuts = np.cumsum(lens)[:-1]
    text = [" ".join(VOCAB[w] for w in ws) for ws in np.split(words, cuts)]
    lang = [LANGS[i] for i in rng.choice(len(LANGS), size=n, p=LANG_P)]
    n_copy = int(round(n * (exact_dup + near_dup)))
    copies = rng.choice(np.arange(1, n), size=n_copy, replace=False)
    is_copy = np.zeros(n, dtype=bool)
    is_copy[copies] = True
    originals = np.flatnonzero(~is_copy)
    families = set()
    for c in np.sort(copies):
        base = int(rng.choice(originals[originals < c]))
        families.add(base)
        if exact_dup > 0:
            text[c], lang[c] = text[base], lang[base]
        else:
            text[c] = text[base] + " dup"
    cols = {"doc_id": np.arange(n, dtype=np.int64), "text": text,
            "lang": lang, "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": np.array([len(t) for t in text], dtype=np.int64)}
    return cols, len(families)


def embeddings(rng, n, dim, labels):
    """A `labels`-component Gaussian mixture, unit-normalised like the
    test table's vectors."""
    centers = rng.normal(size=(labels, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    label = rng.integers(0, labels, size=n).astype(np.int32)
    x = centers[label] + rng.normal(scale=0.12, size=(n, dim))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    return {"vec_id": np.arange(n, dtype=np.int64), "embedding": list(x),
            "label": label}


def write(table, path, parts):
    """One file, or a directory of `parts` part files."""
    if parts == 1:
        pq.write_table(table, path)
        return
    os.makedirs(path)
    step = -(-table.num_rows // parts)
    for i in range(parts):
        pq.write_table(table.slice(i * step, step),
                       os.path.join(path, f"part-{i:05d}.parquet"))


def disk_bytes(path):
    if os.path.isfile(path):
        return os.path.getsize(path)
    return sum(os.path.getsize(os.path.join(path, f)) for f in os.listdir(path))


def generate(workload, seed, out):
    """Writes the workload's tables under `out` (created, must not
    exist) and returns a description: rows, bytes, families."""
    shape = SHAPES[workload]
    rng = np.random.default_rng([seed % 2**63, sorted(SHAPES).index(workload)])
    os.makedirs(out)
    cols, families = documents(rng, shape["docs"], shape["exact_dup"],
                               shape["near_dup"])
    write(pa.table(cols, schema=DOC_SCHEMA), f"{out}/documents.parquet",
          shape["parts"])
    desc = {"documents": shape["docs"], "families": families,
            "documents_bytes": disk_bytes(f"{out}/documents.parquet"),
            "part_files": shape["parts"]}
    if "vectors" in shape:
        emb = embeddings(rng, shape["vectors"], shape["dim"], shape["labels"])
        write(pa.table(emb, schema=EMB_SCHEMA), f"{out}/embeddings.parquet", 1)
        desc.update(vectors=shape["vectors"], dim=shape["dim"],
                    embeddings_bytes=disk_bytes(f"{out}/embeddings.parquet"))
    # rows per second count every input row, documents and vectors
    desc["rows"] = shape["docs"] + shape.get("vectors", 0)
    return desc


if __name__ == "__main__":
    print(json.dumps(generate(sys.argv[1], int(sys.argv[2]), sys.argv[3])))
