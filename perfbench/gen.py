"""Seeded input generator: every workload's inputs derive from the repo's
sf0.1 test tables (the directory ``tools/make_sf1.py`` reads) by seeded
resampling, never by download.

- Documents are made the way ``tools/make_sf1.py`` decorrelates its
  copies: each generated doc starts from a seeded pick of a source doc
  and resamples about a third of its tokens from the corpus unigram
  distribution. Every token comes from the source vocabulary, so the
  catalog's topic terms survive at any size.
- Embeddings are ``0.3 * source + N(0, sd)`` per dimension, as in
  ``tools/make_sf1.py``.
- Ids are dense from 0 and must stay below the incremental split's
  inject offset (``queries/incremental_q.py``); ``check_ids`` enforces it.

The same seed gives byte-identical parquet: tables are built from
explicit arrow schemas and written with fixed writer options.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

INJECT_OFFSET = 10_000_000  # queries/incremental_q.py _INJECT_OFFSET
RESAMPLE_FRAC = 1.0 / 3.0   # tools/make_sf1.py token resampling share
EMB_KEEP = 0.3              # tools/make_sf1.py embedding decorrelation

DOC_SCHEMA = pa.schema([("doc_id", pa.int64()), ("text", pa.string()),
                        ("lang", pa.string()), ("source", pa.string()),
                        ("n_chars", pa.int64())])
EMB_SCHEMA = pa.schema([("vec_id", pa.int64()),
                        ("embedding", pa.list_(pa.float32())),
                        ("label", pa.int32())])
# tables catalog_mix copies verbatim next to the resampled ones
COPIED = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events")


def source_dir() -> str:
    """The sf0.1 tables: ``PERFBENCH_SOURCE`` or the directory the repo's
    sf1 generator reads."""
    env = os.environ.get("PERFBENCH_SOURCE")
    if env:
        return env
    from tools.make_sf1 import SRC
    return SRC


class Source:
    """The source corpus as token ids, loaded once per process."""

    def __init__(self, src_dir: str):
        self.dir = src_dir
        docs = pq.read_table(os.path.join(src_dir, "documents.parquet"))
        docs = docs.sort_by("doc_id").to_pydict()
        toks = [t.split(" ") for t in docs["text"]]
        self.vocab, flat = np.unique(np.concatenate(toks), return_inverse=True)
        self.flat = flat.astype(np.int32)          # unigram distribution
        self.lens = np.array([len(t) for t in toks], dtype=np.int64)
        self.offs = np.concatenate([[0], np.cumsum(self.lens)[:-1]])
        self.lang = np.array(docs["lang"], dtype=object)
        self.source = np.array(docs["source"], dtype=object)
        emb = pq.read_table(os.path.join(src_dir, "embeddings.parquet"))
        emb = emb.sort_by("vec_id").to_pydict()
        self.emb = np.array(emb["embedding"], dtype=np.float32)
        self.emb_label = np.array(emb["label"], dtype=np.int32)
        self.emb_sd = float(self.emb.std())


def resample_docs(src: Source, rng: np.random.Generator, n: int
                  ) -> dict[str, np.ndarray]:
    """``n`` docs, each a seeded source doc with ~1/3 of tokens resampled."""
    pick = rng.integers(0, len(src.lens), size=n)
    lens = src.lens[pick]
    ends = np.cumsum(lens)
    starts = ends - lens
    pos = np.arange(ends[-1]) - np.repeat(starts, lens) + np.repeat(src.offs[pick], lens)
    ids = src.flat[pos]
    mask = rng.random(len(ids)) < RESAMPLE_FRAC
    ids[mask] = src.flat[rng.integers(0, len(src.flat), size=int(mask.sum()))]
    words = src.vocab[ids]
    texts = np.array([" ".join(words[a:b]) for a, b in zip(starts, ends)],
                     dtype=object)
    return {"text": texts, "lang": src.lang[pick], "source": src.source[pick]}


def resample_embeddings(src: Source, rng: np.random.Generator, n: int
                        ) -> tuple[np.ndarray, np.ndarray]:
    pick = rng.integers(0, len(src.emb), size=n)
    noise = rng.normal(0.0, src.emb_sd, size=(n, src.emb.shape[1]))
    vecs = (EMB_KEEP * src.emb[pick] + noise).astype(np.float32)
    return vecs, src.emb_label[pick]


def doc_table(ids: np.ndarray, docs: dict[str, np.ndarray]) -> pa.Table:
    text = docs["text"]
    return pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(text, pa.string()),
        "lang": pa.array(docs["lang"], pa.string()),
        "source": pa.array(docs["source"], pa.string()),
        "n_chars": pa.array([len(t) for t in text], pa.int64()),
    }, schema=DOC_SCHEMA)


def emb_table(ids: np.ndarray, vecs: np.ndarray, labels: np.ndarray) -> pa.Table:
    return pa.table({
        "vec_id": pa.array(ids, pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    }, schema=EMB_SCHEMA)


def write(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy", use_dictionary=True,
                   write_statistics=True, row_group_size=1 << 20)


def check_ids(*tables: pa.Table) -> None:
    for t in tables:
        col = "doc_id" if "doc_id" in t.column_names else "vec_id"
        mx = pa.compute.max(t[col]).as_py()
        if mx is not None and mx >= INJECT_OFFSET:
            raise ValueError(f"generated {col} {mx} reaches the incremental "
                             f"inject offset {INJECT_OFFSET}")


def text_bytes(table: pa.Table) -> int:
    return int(pa.compute.sum(pa.compute.binary_length(table["text"])).as_py() or 0)


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def make_corpus(src: Source, out_dir: str, seed: int, n_docs: int,
                n_vecs: int = 0, copy_tables: bool = False) -> dict:
    """One resampled corpus under ``out_dir`` in the catalog's sf layout:
    ``documents.parquet`` (+ ``embeddings.parquet`` when ``n_vecs``, +
    the copied tables when ``copy_tables``). Returns the sizes record."""
    rng = np.random.default_rng([seed, 1])
    docs = doc_table(np.arange(n_docs), resample_docs(src, rng, n_docs))
    tables = {"documents": docs}
    if n_vecs:
        vecs, labels = resample_embeddings(src, np.random.default_rng([seed, 2]), n_vecs)
        tables["embeddings"] = emb_table(np.arange(n_vecs), vecs, labels)
    check_ids(*tables.values())
    for name, t in tables.items():
        write(t, os.path.join(out_dir, f"{name}.parquet"))
    if copy_tables:
        for name in COPIED:
            shutil.copyfile(os.path.join(src.dir, f"{name}.parquet"),
                            os.path.join(out_dir, f"{name}.parquet"))
    return {"docs": n_docs, "text_bytes": text_bytes(docs),
            "tables": {f[:-len(".parquet")]: os.path.getsize(os.path.join(out_dir, f))
                       for f in sorted(os.listdir(out_dir))}}


def _take(docs: dict[str, np.ndarray], idx: np.ndarray) -> dict[str, np.ndarray]:
    return {k: v[idx] for k, v in docs.items()}


def make_churn(src: Source, out_dir: str, seed: int, n_base: int,
               n_batches: int, batch_docs: int, n_queries: int) -> dict:
    """``store_churn`` inputs: a base snapshot (docs + embeddings), CDC
    batches plus one held-out probe batch, and ANN query vectors.

    Each batch holds fresh resampled docs plus two duplicate classes the
    store exists to catch: exact re-crawls of standing docs under new ids
    (must serve as ``dropped``) and re-crawls of docs earlier in the same
    batch. From the second batch on, half of the standing re-crawls come
    from earlier batches, so the probe batch checks what the folds wrote.
    Batch ids continue after the base, so docno order is arrival order."""
    rng = np.random.default_rng([seed, 3])
    base = resample_docs(src, rng, n_base)
    base_t = doc_table(np.arange(n_base), base)
    vecs, labels = resample_embeddings(src, rng, n_base)
    write(base_t, os.path.join(out_dir, "base_docs.parquet"))
    write(emb_table(np.arange(n_base), vecs, labels),
          os.path.join(out_dir, "base_emb.parquet"))
    sizes = {"base_docs": n_base, "base_text_bytes": text_bytes(base_t),
             "batches": []}
    folded = {k: v[:0] for k, v in base.items()}    # docs of earlier batches
    next_id = n_base
    for b in range(n_batches + 1):   # the last one is the probe batch
        n_dup = max(1, batch_docs // 10)
        n_fresh = batch_docs - 2 * n_dup
        fresh = resample_docs(src, rng, n_fresh)
        n_old = n_dup // 2 if len(folded["text"]) else 0
        parts = [fresh,
                 _take(base, rng.choice(n_base, size=n_dup - n_old, replace=False)),
                 _take(folded, rng.choice(len(folded["text"]), size=n_old, replace=False)),
                 _take(fresh, rng.choice(n_fresh, size=n_dup, replace=False))]
        part = {k: np.concatenate([p[k] for p in parts]) for k in fresh}
        ids = np.arange(next_id, next_id + batch_docs)
        next_id += batch_docs
        bt = doc_table(ids, part)
        bv, bl = resample_embeddings(src, rng, batch_docs)
        be = emb_table(ids, bv, bl)
        check_ids(bt, be)
        name = "probe" if b == n_batches else f"batch{b}"
        write(bt, os.path.join(out_dir, f"{name}_docs.parquet"))
        write(be, os.path.join(out_dir, f"{name}_emb.parquet"))
        sizes["batches"].append({"name": name, "docs": batch_docs,
                                 "text_bytes": text_bytes(bt),
                                 "exact_recrawls": ids[n_fresh:n_fresh + n_dup].tolist()})
        folded = {k: np.concatenate([folded[k], fresh[k]]) for k in fresh}
    qv, ql = resample_embeddings(src, rng, n_queries)
    write(emb_table(np.arange(n_queries), qv, ql),
          os.path.join(out_dir, "queries.parquet"))
    sizes["queries"] = n_queries
    sizes["tables"] = {f[:-len(".parquet")]: os.path.getsize(os.path.join(out_dir, f))
                       for f in sorted(os.listdir(out_dir))}
    return sizes
