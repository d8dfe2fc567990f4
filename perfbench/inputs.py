"""Seeded benchmark inputs with an on-disk cache.

Every input is a pure function of ``--seed``: the crawl corpus is
``synth.gen_doc`` over a ``CorpusSpec`` whose ``seed`` is replaced by the
benchmark seed, and the ingest inputs (office files, HTML pages, scrape
URLs, curation texts) are drawn from ``random.Random(seed)``.  Generation
runs in the driver process (no Spark), writes parquet with pyarrow and is
cached per (kind, scale, seed) under the work directory, so it never lands
in a timed section or in ``setup_s``.
"""

from __future__ import annotations

import dataclasses
import hashlib
import json
import os
import random
import shutil
import zlib

import pyarrow as pa
import pyarrow.parquet as pq

from eget_spark.sources.ooxml import build_docx_bytes, build_xlsx_bytes
from eget_spark.sources.pdfmini import build_pdf_bytes
from eget_spark.synth import SCALES, _VOCAB, _idx_to_host_page, doc_url, gen_doc, host_name

# 64 hosts with one hot host, like the synth ``medium`` scale, but with
# fewer pages per host: a crawl round costs a fixed ~2-10 s of Spark jobs
# on 4 cores whatever its size, so page counts are sized to keep one run
# inside the benchmark's time budget (see LAYERS.md)
CRAWL_SPEC = dataclasses.replace(SCALES["medium"], pages_hot=1000, pages_other=40)
INGEST_SPEC = dataclasses.replace(SCALES["medium"], n_hosts=16, pages_hot=200, pages_other=100)

INGEST_FILES = 90  # docx / xlsx / pdf in turn
INGEST_HTML = 600
INGEST_URLS = 800  # 5% of them are not in the corpus
INGEST_TEXTS = 200  # ~10% exact and ~10% near-duplicate copies

# cache keys name the scale, so resized inputs never reuse a stale cache
CRAWL_KIND = f"crawl-h{CRAWL_SPEC.n_hosts}-p{CRAWL_SPEC.pages_hot}-{CRAWL_SPEC.pages_other}"
INGEST_KIND = f"ingest-f{INGEST_FILES}-h{INGEST_HTML}-u{INGEST_URLS}-t{INGEST_TEXTS}"

_SPANS = pa.list_(
    pa.struct(
        [
            ("kind", pa.string()),
            ("text", pa.string()),
            ("media_ref", pa.string()),
            ("offset", pa.int32()),
        ]
    )
)
DOCS_ARROW = pa.schema(
    [
        ("doc_id", pa.string()),
        ("spans", _SPANS),
        ("host", pa.string()),
        ("true_out_links", pa.list_(pa.string())),
    ]
)


def gen_corpus(spec, seed: int) -> list[dict]:
    spec = dataclasses.replace(spec, seed=seed)
    return [gen_doc(spec, *_idx_to_host_page(spec, i)) for i in range(spec.total_docs)]


def crawl_seeds(spec, delayed: set[str], per_delayed: int) -> list[str]:
    """Page 0 of every host, and pages 0 .. ``per_delayed`` - 1 of every
    crawl-delayed host in ``delayed``.  A delayed host fetches one URL per
    round, so its extra seeds make each of the first ``per_delayed``
    rounds defer."""
    return [
        doc_url(i, p)
        for i in range(spec.n_hosts)
        for p in range(per_delayed if host_name(i) in delayed else 1)
    ]


class InputCache:
    """Directory ``<root>/<kind>-s<seed>/`` holding parquet inputs, a
    ``facts.json`` of generation-time facts and a ``counts.json`` of the
    output counts first observed at that seed."""

    def __init__(self, root: str):
        self.root = root

    def dir(self, kind: str, seed: int) -> str:
        return os.path.join(self.root, f"{kind}-s{seed}")

    def ensure(self, kind: str, seed: int, build) -> str:
        path = self.dir(kind, seed)
        if os.path.exists(os.path.join(path, "facts.json")):
            return path
        tmp = f"{path}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        facts = build(tmp, seed)
        write_json(os.path.join(tmp, "facts.json"), facts)
        shutil.rmtree(path, ignore_errors=True)
        os.replace(tmp, path)
        return path

    def facts(self, kind: str, seed: int) -> dict:
        with open(os.path.join(self.dir(kind, seed), "facts.json")) as fh:
            return json.load(fh)

    def check_counts(self, kind: str, seed: int, scope: str, counts: dict) -> list[str]:
        """Record ``counts`` the first time this seed runs under ``scope``
        (the workload and its settings); afterwards any difference is a
        determinism failure, because counts are fixed by the seed."""
        digest = hashlib.sha1(scope.encode()).hexdigest()[:12]
        path = os.path.join(self.dir(kind, seed), f"counts-{digest}.json")
        if not os.path.exists(path):
            write_json(path, counts)
            return []
        with open(path) as fh:
            want = json.load(fh)
        return [
            f"{k}: {counts.get(k)} != {v} recorded for seed {seed}"
            for k, v in want.items()
            if counts.get(k) != v
        ]


def write_json(path: str, obj) -> None:
    with open(path, "w") as fh:
        json.dump(obj, fh, indent=1, sort_keys=True)


def write_docs(path: str, docs: list[dict]) -> None:
    pq.write_table(pa.Table.from_pylist(docs, schema=DOCS_ARROW), path)


def read_docs(path: str) -> dict[str, list[dict]]:
    """doc_id -> spans, the shape ``tests/oracle.py`` takes."""
    t = pq.read_table(path, columns=["doc_id", "spans"]).to_pydict()
    return dict(zip(t["doc_id"], t["spans"]))


# -- crawl -------------------------------------------------------------------


def build_crawl(out: str, seed: int) -> dict:
    docs = gen_corpus(CRAWL_SPEC, seed)
    write_docs(os.path.join(out, "docs.parquet"), docs)
    return {"docs": len(docs), "hosts": CRAWL_SPEC.n_hosts}


def markdown_checksum(texts) -> dict:
    """Order-independent (count, bytes, crc-sum) of markdown strings; the
    engine side computes the same with octet_length and crc32."""
    n = size = crc = 0
    for t in texts:
        b = t.encode()
        n += 1
        size += len(b)
        crc += zlib.crc32(b)
    return {"n": n, "bytes": size, "crc": crc}


# -- ingest ------------------------------------------------------------------

_SCRIPT_MARK = "perfbenchScriptMarker"
_FOOTER_MARK = "perfbench footer boilerplate"


def _html_page(doc: dict) -> str:
    """Render a synth doc as a page with nav, script and footer boilerplate
    around the main content."""
    parts = []
    for s in doc["spans"]:
        kind, text, ref = s["kind"], s["text"] or "", s["media_ref"] or ""
        if kind == "heading":
            parts.append(f"<h1>{text.lstrip('# ')}</h1>")
        elif kind == "paragraph":
            parts.append(f"<p>{text}</p>")
        elif kind == "list":
            items = "".join(f"<li>{it}</li>" for it in text.split("\n"))
            parts.append(f"<ul>{items}</ul>")
        elif kind == "link":
            parts.append(f'<p><a href="{ref}">{text}</a></p>')
        elif kind == "code":
            parts.append(f"<pre><code>{text}</code></pre>")
        elif kind == "image":
            parts.append(f'<img src="{ref}" alt="{text}">')
    return (
        f"<html><head><title>{doc['doc_id']}</title>"
        f'<meta name="description" content="page {doc["doc_id"]}">'
        f"<script>var {_SCRIPT_MARK} = 1;</script></head><body>"
        '<nav><a href="/">home</a> <a href="/about">about</a></nav>'
        f"<main>{''.join(parts)}</main>"
        f"<footer>{_FOOTER_MARK}</footer></body></html>"
    )


def _words(rng: random.Random, lo: int, hi: int) -> str:
    return " ".join(rng.choice(_VOCAB) for _ in range(rng.randint(lo, hi)))


def _office_file(rng: random.Random, i: int) -> tuple[str, bytes]:
    kind = ("docx", "xlsx", "pdf")[i % 3]
    if kind == "docx":
        blocks = [
            {"type": "heading", "text": f"file {i} {_words(rng, 2, 4)}", "level": 1 + i % 3},
            {"type": "paragraph", "runs": [(_words(rng, 10, 40), i % 2 == 0, False, False)]},
            {"type": "list", "items": [_words(rng, 2, 5) for _ in range(rng.randint(2, 5))]},
            {"type": "table", "rows": [["key", "value"], [_words(rng, 1, 2), str(i)]]},
            {"type": "paragraph", "runs": [(_words(rng, 10, 40), False, i % 3 == 0, False)]},
        ]
        data = build_docx_bytes(blocks)
    elif kind == "xlsx":
        rows = [["name", "count", "score"]] + [
            [_words(rng, 1, 2), rng.randint(0, 999), round(rng.random(), 6)]
            for _ in range(rng.randint(5, 20))
        ]
        data = build_xlsx_bytes([(f"sheet{i}", rows)])
    else:
        pages = [
            "\n".join([f"file {i} page {p}"] + [_words(rng, 6, 14) for _ in range(rng.randint(3, 8))])
            for p in range(rng.randint(1, 3))
        ]
        data = build_pdf_bytes(pages)
    return f"mem://files/{i:05d}.{kind}", data


def _curation_texts(rng: random.Random, n: int) -> tuple[list[str], int]:
    """Sentence texts where ~10% are exact copies and ~10% are copies with
    one word changed (near duplicates)."""

    texts: list[str] = []
    for _ in range(n):
        r = rng.random()
        if texts and r < 0.1:
            texts.append(texts[rng.randrange(len(texts))])
        elif texts and r < 0.2:
            toks = texts[rng.randrange(len(texts))].split(" ")
            toks[rng.randrange(len(toks))] = rng.choice(_VOCAB)
            texts.append(" ".join(toks))
        else:
            texts.append(
                " ".join(f"{_words(rng, 8, 20).capitalize()}." for _ in range(rng.randint(6, 14)))
            )
    return texts, n - len(set(texts))


def build_ingest(out: str, seed: int) -> dict:
    rng = random.Random(f"perfbench-ingest:{seed}")
    corpus = gen_corpus(INGEST_SPEC, seed)
    write_docs(os.path.join(out, "docs.parquet"), corpus)

    files = [_office_file(rng, i) for i in range(INGEST_FILES)]
    pq.write_table(
        pa.table({"path": [p for p, _ in files], "content": [b for _, b in files]}),
        os.path.join(out, "files.parquet"),
    )

    pages = rng.sample(corpus, INGEST_HTML)
    pq.write_table(
        pa.table({"url": [d["doc_id"] for d in pages], "html": [_html_page(d) for d in pages]}),
        os.path.join(out, "html.parquet"),
    )

    n_missing = INGEST_URLS // 20
    urls = [d["doc_id"] for d in rng.sample(corpus, INGEST_URLS - n_missing)]
    spec = INGEST_SPEC
    urls += [doc_url(rng.randrange(spec.n_hosts), spec.pages_hot + 1000 + k) for k in range(n_missing)]
    rng.shuffle(urls)
    pq.write_table(pa.table({"url": urls}), os.path.join(out, "urls.parquet"))

    texts, exact_dups = _curation_texts(rng, INGEST_TEXTS)
    pq.write_table(
        pa.table({"doc_id": [f"d{i:06d}" for i in range(len(texts))], "text": texts}),
        os.path.join(out, "texts.parquet"),
    )
    return {
        "files": len(files),
        "html_pages": len(pages),
        "urls": len(urls),
        "urls_in_corpus": len(urls) - n_missing,
        "texts": len(texts),
        "exact_duplicates": exact_dups,
        "script_mark": _SCRIPT_MARK,
        "footer_mark": _FOOTER_MARK,
    }
