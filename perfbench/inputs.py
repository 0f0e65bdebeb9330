"""Seeded inputs and twin-expected outputs for the benchmark workloads.

Everything here is a pure function of ``--seed``. The documents table has
the shape of the sf0.1 ``documents`` testdata (30-word vocabulary, 10-99
words per text, the same language mix, ``source = src{doc_id % 20}``), but
it is generated here so that a run reads nothing outside its checkout.
The seed decides which text lands on which of the ``N_DOCS`` doc_ids and
the row order inside the store's files; sizes and distributions do not
depend on it.

Two stores are staged from those documents with the program's own
synthesis helpers:

* the exam pages store (``documents_bridge``: ``N_DOCS`` PV pages plus the
  32 answer-key pages, ``html`` null, partitioned by ``kind``), and
* the html pages store (``htmlops.html_for`` / ``page_url``).

The expected outputs come from the program's pure-Python twins
(``expected.expected_question_rows`` and ``htmlops.extract_main_py``). The
staging helpers ``expected.stage_expected_tables`` and
``htmlops.stage_html_tables`` wrap the same functions but write under
``/tmp`` and read a fixed ``documents.parquet``, so they are not called.

A store directory is reused only when its completion marker names the same
input key and every file still has the content hash recorded in the marker;
anything else (another seed, a partial write, an edited file) is rebuilt.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import time
import gc
from concurrent.futures import ProcessPoolExecutor
from multiprocessing import get_context, resource_tracker

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

GENERATOR_VERSION = 1
VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)
N_BASE = 5_000  # distinct texts, as in sf0.1 documents
MULT = 6  # each text is placed on MULT doc_ids: 30,000 documents
N_DOCS = N_BASE * MULT
N_FILES = 48  # many small files, 8 per replica as bench.py: core-proportional scan splits
N_SOURCES = 20
TWIN_PROCS = 4
MARKER = "_BENCH_STORE.json"

EXAM_TWIN_COLS = [
    "url",
    "seq",
    "subject",
    "question_num",
    "ID",
    "correct_answer",
    "question_text",
]
HTML_TWIN_COLS = [
    "doc_id",
    "url",
    "main_text",
    "n_blocks",
    "n_content_blocks",
    "main_chars",
]


def documents(seed: int) -> pd.DataFrame:
    """(doc_id, text, lang, source) for ``N_DOCS`` documents."""
    rng = np.random.default_rng(seed)
    n_words = rng.integers(10, 100, N_BASE)
    words = rng.integers(0, len(VOCAB), int(n_words.sum()))
    texts, pos = [], 0
    for n in n_words:
        texts.append(" ".join(VOCAB[w] for w in words[pos : pos + n]))
        pos += n
    langs = rng.choice(len(LANGS), N_BASE, p=LANG_P)
    text_of = rng.permutation(N_DOCS) % N_BASE
    doc_id = np.arange(N_DOCS, dtype=np.int64)
    return pd.DataFrame(
        {
            "doc_id": doc_id,
            "text": [texts[i] for i in text_of],
            "lang": [LANGS[langs[i]] for i in text_of],
            "source": [f"src{d % N_SOURCES}" for d in doc_id],
        }
    )


def exam_pages(docs: pd.DataFrame) -> pd.DataFrame:
    """The exam (PV) pages ``documents_bridge.pages_from_documents`` builds."""
    from enem_spark.sources.documents_bridge import (
        EPOCH_S,
        EXAM_PAGES,
        page_text_for,
        slot_meta,
    )

    urls, texts = [], []
    for doc_id, text in zip(docs["doc_id"].tolist(), docs["text"].tolist()):
        exam = doc_id // EXAM_PAGES
        year, day, color = slot_meta(exam)
        urls.append(
            f"cc://enem/{year}_PV_impresso_{day}_CD{color}-x{exam}"
            f"/page/{doc_id % EXAM_PAGES + 1}"
        )
        texts.append(page_text_for(doc_id, text, year))
    return pd.DataFrame(
        {
            "url": urls,
            "warc_ts": pd.to_datetime(docs["doc_id"] + EPOCH_S, unit="s", utc=True),
            "html": None,
            "text": texts,
            "lang": "pt",
        }
    )


def answer_key_pages() -> pd.DataFrame:
    """The 32 answer-key (GB) pages ``pages_from_documents`` adds."""
    from enem_spark.sources.documents_bridge import (
        EPOCH_S,
        N_SLOTS,
        gb_text_for,
        slot_meta,
    )

    rows = []
    for s in range(N_SLOTS):
        year, day, color = slot_meta(s)
        rows.append(
            {
                "url": f"cc://enem/{year}_GB_impresso_{day}_CD{color}/page/0",
                "warc_ts": pd.Timestamp(EPOCH_S - 1, unit="s", tz="UTC"),
                "html": None,
                "text": gb_text_for(year, day),
                "lang": "pt",
            }
        )
    return pd.DataFrame(rows)


def html_pages(docs: pd.DataFrame) -> pd.DataFrame:
    """The html pages table ``htmlops.synth_html_pages`` builds."""
    from enem_spark.htmlops import EPOCH_S, html_for, page_url

    rows = zip(docs["doc_id"], docs["text"], docs["source"], docs["lang"])
    return pd.DataFrame(
        {
            "doc_id": docs["doc_id"].astype("int64"),
            "url": [page_url(d, s) for d, s in zip(docs["doc_id"], docs["source"])],
            "warc_ts": pd.to_datetime(docs["doc_id"] + EPOCH_S, unit="s", utc=True),
            "html": [html_for(d, t, s, g).encode("utf-8") for d, t, s, g in rows],
            "lang": docs["lang"],
        }
    )


_SCHEMAS = {
    "exam": pa.schema(
        [
            ("url", pa.string()),
            ("warc_ts", pa.timestamp("us", tz="UTC")),
            ("html", pa.binary()),
            ("text", pa.string()),
            ("lang", pa.string()),
        ]
    ),
    "html": pa.schema(
        [
            ("doc_id", pa.int64()),
            ("url", pa.string()),
            ("warc_ts", pa.timestamp("us", tz="UTC")),
            ("html", pa.binary()),
            ("lang", pa.string()),
        ]
    ),
}


def _write_files(frame: pd.DataFrame, schema: pa.Schema, out_dir: str, n_files: int):
    os.makedirs(out_dir, exist_ok=True)
    for i, part in enumerate(np.array_split(np.arange(len(frame)), n_files)):
        table = pa.Table.from_pandas(
            frame.iloc[part], schema=schema, preserve_index=False
        )
        pq.write_table(table, os.path.join(out_dir, f"part-{i:05d}.parquet"))


def _write_store(kind: str, pages: pd.DataFrame, store: str, seed: int) -> None:
    """Shuffle rows with the seed, then cut them into ``N_FILES`` files; the
    exam store is partitioned by ``kind`` like the stores bench.py writes."""
    rng = np.random.default_rng([seed, 1])
    pages = pages.iloc[rng.permutation(len(pages))]
    if kind == "exam":
        _write_files(pages, _SCHEMAS[kind], os.path.join(store, "kind=PV"), N_FILES)
        _write_files(answer_key_pages(), _SCHEMAS[kind], os.path.join(store, "kind=GB"), 1)
    else:
        _write_files(pages, _SCHEMAS[kind], store, N_FILES)


def _file_hashes(store: str) -> dict[str, str]:
    out = {}
    for root, _, files in os.walk(store):
        for f in files:
            if f == MARKER:
                continue
            path = os.path.join(root, f)
            with open(path, "rb") as fh:
                out[os.path.relpath(path, store)] = hashlib.sha256(fh.read()).hexdigest()
    return dict(sorted(out.items()))


def input_key(kind: str, seed: int) -> str:
    return f"{kind}:seed={seed}:docs={N_DOCS}:files={N_FILES}:v{GENERATOR_VERSION}"


def store_is_complete(store: str, key: str) -> bool:
    """True iff ``store`` holds a finished write of the input named ``key``."""
    try:
        with open(os.path.join(store, MARKER)) as fh:
            marker = json.load(fh)
    except (OSError, ValueError):
        return False
    return marker.get("input_key") == key and marker.get("files") == _file_hashes(store)


def stage(kind: str, seed: int, store: str) -> tuple[tuple, dict]:
    """Stage the ``kind`` ('exam' | 'html') store for ``seed``; a complete
    copy of the same input is reused. Returns the twin's digest (kept in the
    marker) and the staging times, which are not part of the program's
    set-up time."""
    key = input_key(kind, seed)
    if store_is_complete(store, key):
        with open(os.path.join(store, MARKER)) as fh:
            return tuple(json.load(fh)["twin"]), {"reused": True}
    shutil.rmtree(store, ignore_errors=True)
    t0 = time.perf_counter()
    pages, twin = _generate(kind, documents(seed))
    t1 = time.perf_counter()
    _write_store(kind, pages, store, seed)
    marker = {"input_key": key, "files": _file_hashes(store), "twin": twin}
    tmp = os.path.join(store, MARKER + ".tmp")
    with open(tmp, "w") as fh:
        json.dump(marker, fh)
    os.replace(tmp, os.path.join(store, MARKER))  # marker last: commit point
    t2 = time.perf_counter()
    return twin, {"reused": False, "generate_and_twin_s": t1 - t0, "write_s": t2 - t1}


# ---------------------------------------------------------------------------
# twins
# ---------------------------------------------------------------------------

SEP = "\x1f"
NULL = "\x00"


def row_key(values) -> str:
    """The text a row's twin-column digest hashes: each value as Spark casts
    it to a string (NULL as ``NULL``), joined by ``SEP``."""
    return SEP.join(NULL if v is None else str(v) for v in values)


def twin_digest(frame: pd.DataFrame) -> tuple[int, int, int]:
    """(rows, sum of the high, sum of the low 32 bits of the first 64 bits of
    md5(row_key)): order-insensitive, duplicate-sensitive, and additive over
    row chunks. ``run.digest`` computes the same three numbers in Spark."""
    hi = lo = 0
    cols = [frame[c].tolist() for c in frame.columns]
    for values in zip(*cols):
        h = hashlib.md5(row_key(values).encode("utf-8")).hexdigest()
        hi += int(h[:8], 16)
        lo += int(h[8:16], 16)
    return len(frame), hi, lo


def exam_twin(docs: pd.DataFrame) -> pd.DataFrame:
    """Expected ``extract_questions`` rows (twin columns) for whole exams."""
    from enem_spark import expected

    rows = expected.expected_question_rows(docs, keep_unparsed=False)
    return expected._questions_frame(rows)[EXAM_TWIN_COLS]


def html_twin(docs: pd.DataFrame) -> pd.DataFrame:
    """Expected ``extract_main_content`` rows for ``docs``."""
    from enem_spark.htmlops import extract_main_py, html_for, main_frame, page_url

    rows = list(zip(docs["doc_id"], docs["text"], docs["source"], docs["lang"]))
    urls = [page_url(d, s) for d, _, s, _ in rows]
    mains = [extract_main_py(html_for(d, t, s, g)) for d, t, s, g in rows]
    return main_frame(docs["doc_id"], urls, mains)[HTML_TWIN_COLS]


def _generate_chunk(kind: str, docs: pd.DataFrame):
    if kind == "exam":
        return exam_pages(docs), twin_digest(exam_twin(docs))
    return html_pages(docs), twin_digest(html_twin(docs))


def _generate(kind: str, docs: pd.DataFrame) -> tuple[pd.DataFrame, tuple]:
    """Pages and twin digest for ``docs``, in ``TWIN_PROCS`` processes. Exam
    chunks hold whole exams: question numbering runs across an exam's
    pages."""
    from enem_spark.sources.documents_bridge import EXAM_PAGES

    unit = docs["doc_id"] // EXAM_PAGES if kind == "exam" else docs["doc_id"]
    owner = unit % TWIN_PROCS
    chunks = [docs[owner == k] for k in range(TWIN_PROCS)]
    with ProcessPoolExecutor(TWIN_PROCS, mp_context=get_context("spawn")) as ex:
        parts = list(ex.map(_generate_chunk, [kind] * TWIN_PROCS, chunks))
    stop_resource_tracker()
    pages = pd.concat([p for p, _ in parts], ignore_index=True)
    twin = tuple(sum(d[i] for _, d in parts) for i in range(3))
    return pages, twin


def stop_resource_tracker() -> None:
    """Stop the resource-tracker process a spawn pool starts, and wait for it.
    Left alone, it outlives this process: it ends only after its pipe from
    here closes. The pool's semaphores are collected first, so that no
    later finalizer starts a new tracker to unregister them."""
    gc.collect()
    resource_tracker._resource_tracker._stop()


def n_pages(kind: str) -> int:
    """Input pages of a store: the exam store adds the answer-key pages."""
    from enem_spark.sources.documents_bridge import N_SLOTS

    return N_DOCS + N_SLOTS if kind == "exam" else N_DOCS
