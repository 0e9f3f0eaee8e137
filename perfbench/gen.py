"""Seeded input generation for the benchmark.

Every input a run feeds the program comes from here and depends only on
the seed and the size: the same seed writes byte-identical files, another
seed changes them. The curation corpus is the sf0.1 documents/embeddings
fixture kept in perfbench/data (5000 documents, 2000 embeddings), relabelled
by one seeded permutation of its contiguous doc_id/vec_id; the ETL input is
the chain window's start height (the fixture chain derives every block
from its height).
"""
import hashlib
from pathlib import Path

import numpy as np
import pyarrow.compute as pc
import pyarrow.parquet as pq

DATA = Path(__file__).resolve().parent / "data"


def _relabel(table, key, perm):
    """Replace the contiguous id column `key` by perm[id], rows sorted by
    the new id (the fixture's own layout).
    """
    ids = perm[table.column(key).to_numpy()]
    table = table.set_column(table.schema.get_field_index(key), key,
                             pc.cast(ids, table.schema.field(key).type))
    return table.take(np.argsort(ids, kind="stable"))


def corpus(out, rng, n_docs):
    """The fixture's first n_docs documents and the embeddings of the
    same share of its vectors (ids 0..n-1 stay contiguous), both
    relabelled by one seeded permutation of 0..n_docs-1: a document keeps
    its embedding, while which documents are history, delta and deleted
    changes with the seed.
    """
    docs = pq.read_table(DATA / "documents.parquet")
    vecs = pq.read_table(DATA / "embeddings.parquet")
    n_vecs = vecs.num_rows * n_docs // docs.num_rows
    docs = docs.filter(pc.less(docs.column("doc_id"), n_docs))
    vecs = vecs.filter(pc.less(vecs.column("vec_id"), n_vecs))
    assert docs.num_rows == n_docs and vecs.num_rows == n_vecs, "fixture ids are not contiguous"
    perm = rng.permutation(n_docs)
    out.mkdir(parents=True, exist_ok=True)
    pq.write_table(_relabel(docs, "doc_id", perm).replace_schema_metadata(None),
                   out / "documents.parquet", compression="snappy")
    pq.write_table(_relabel(vecs, "vec_id", perm).replace_schema_metadata(None),
                   out / "embeddings.parquet", compression="snappy")


def drop_column(path, name):
    pq.write_table(pq.read_table(path).drop([name]), path)


def start_height(rng):
    """First block of the chain window: moves every hash and amount."""
    return int(rng.integers(1_000, 10_000_000))


def fingerprint(root):
    """sha256 over every file's relative path and bytes."""
    h = hashlib.sha256()
    for p in sorted(Path(root).rglob("*")):
        if p.is_file():
            h.update(str(p.relative_to(root)).encode())
            h.update(p.read_bytes())
    return h.hexdigest()


def rng_for(seed, workload):
    return np.random.default_rng([seed, int.from_bytes(workload.encode(), "little") % (2**32)])
