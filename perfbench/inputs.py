"""Seeded benchmark inputs, generated once per (workload, seed, size).

Both pipeline workloads draw their pages from the program's own
generator, ``sources.pages.make_page(seed, i)``; ``corpus_queries``
gets a ``documents`` table shaped like the registry's test tables
(:func:`documents`). Every input is a pure function of the seed. They are written once into the checkout's
``.perfbench_cache`` directory, before any timing starts, and reused by
later runs with the same seed and size.

Every input carries a content digest of its logical rows (not of the
file bytes: ``.warc.gz`` members embed a gzip mtime). ``canary_digest``
hashes a fixed slice of the generator's output, so a change to
``sources.pages`` shows on every seed, pinned or not.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import shutil

import pyarrow as pa
import pyarrow.parquet as pq

PAGES_ARROW_SCHEMA = pa.schema(
    [
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us", tz="UTC")),
        ("html", pa.binary()),
        ("text", pa.string()),
        ("lang", pa.string()),
    ]
)

CANARY_SEED, CANARY_ROWS = 0, 200


def _row_digest(h, row) -> None:
    url, ts, html, text, lang = row
    for part in (url, ts.isoformat(), text or "", lang or ""):
        h.update(part.encode("utf-8"))
        h.update(b"\x00")
    h.update(html)
    h.update(b"\x01")


def canary_digest() -> str:
    from textcleaning_spark.sources.pages import make_page

    h = hashlib.sha256()
    for i in range(CANARY_ROWS):
        _row_digest(h, make_page(CANARY_SEED, i))
    return h.hexdigest()


def _pages(seed: int, n: int) -> tuple[list[tuple], str]:
    from textcleaning_spark.sources.pages import make_page

    h = hashlib.sha256()
    rows = []
    for i in range(n):
        row = make_page(seed, i)
        _row_digest(h, row)
        rows.append(row)
    return rows, h.hexdigest()


# the registry's documents table: a 30-word vocabulary with two stop
# words, 10-100 words a doc, 20 sources, ~2% exact and ~5% near duplicates
_DOC_WORDS = tuple(
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch".split()
)
_DOC_LANGS = ("en", "en", "en", "en", "zh", "es", "de", "fr")
DOCUMENTS_SCHEMA = pa.schema(
    [("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
     ("source", pa.string()), ("n_chars", pa.int64())]
)


def documents(seed: int, n: int) -> list[tuple]:
    rnd = random.Random(seed)
    rows: list[tuple] = []
    for i in range(n):
        u = rnd.random()
        if i >= 10 and u < 0.02:
            text = rows[rnd.randrange(i)][1]
        elif i >= 10 and u < 0.07:
            text = rows[rnd.randrange(i)][1] + " dup"
        else:
            text = " ".join(rnd.choice(_DOC_WORDS) for _ in range(rnd.randint(10, 100)))
        rows.append((i, text, rnd.choice(_DOC_LANGS), f"src{i % 20}", len(text)))
    return rows


def _table(rows: list[tuple], schema: pa.Schema) -> pa.Table:
    cols = list(zip(*rows))
    return pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, schema)], schema=schema
    )


def _write_parquet(rows: list[tuple], path: str, n_files: int) -> None:
    os.makedirs(path)
    per = -(-len(rows) // n_files)
    for k in range(n_files):
        chunk = rows[k * per : (k + 1) * per]
        pq.write_table(
            _table(chunk, PAGES_ARROW_SCHEMA), os.path.join(path, f"part-{k:04d}.parquet")
        )


def _write_warc(rows: list[tuple], path: str, n_files: int) -> None:
    from textcleaning_spark.sources.warc import write_warc

    os.makedirs(path)
    per = -(-len(rows) // n_files)
    for k in range(n_files):
        chunk = [(url, ts, html) for url, ts, html, _t, _l in rows[k * per : (k + 1) * per]]
        write_warc(os.path.join(path, f"seg-{k:04d}.warc.gz"), chunk, compress=True)


def prepare(cache_root: str, workload: str, seed: int, n_docs: int, n_files: int) -> dict:
    """Return ``{"path", "digest", "n_docs", "n_files", "format"}`` for
    the workload's input, generating it if this checkout has not yet.

    ``filter_parquet`` gets parquet with ``text`` present;
    ``crawl_warc`` gets per-record-gzipped ``.warc.gz`` archives, so
    ``read_warc`` yields ``text`` and ``lang`` NULL. The digest covers
    the same logical rows in both cases. ``corpus_queries`` gets a
    directory holding ``documents.parquet``, to pass as ``sf_dir``."""
    fmt = {"crawl_warc": "warc", "corpus_queries": "documents"}.get(workload, "parquet")
    key = f"{fmt}-s{seed}-n{n_docs}-f{n_files}"
    base = os.path.join(cache_root, key)
    meta_path = base + ".json"
    if os.path.exists(meta_path):
        with open(meta_path) as f:
            return {**json.load(f), "path": base}
    shutil.rmtree(base, ignore_errors=True)
    if fmt == "documents":
        rows = documents(seed, n_docs)
        digest = hashlib.sha256(repr(rows).encode()).hexdigest()
        os.makedirs(base)
        pq.write_table(
            _table(rows, DOCUMENTS_SCHEMA), os.path.join(base, "documents.parquet")
        )
    else:
        rows, digest = _pages(seed, n_docs)
        (_write_warc if fmt == "warc" else _write_parquet)(rows, base, n_files)
    meta = {"digest": digest, "n_docs": n_docs, "n_files": n_files, "format": fmt}
    tmp = meta_path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(meta, f)
    os.replace(tmp, meta_path)
    return {**meta, "path": base}
