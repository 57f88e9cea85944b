"""Seeded input generators for the benchmark workloads.

Everything here is plain Python (``random.Random(seed)``, ``gzip``,
``pyarrow``): no engine code, so a change to ``architxt_spark`` can never
change the bytes a workload reads.  Each generator writes its inputs under
one directory and returns a small :class:`dict` of facts the output checks
use (counts the generator knows by construction).

The same ``(seed, size)`` always produces the same bytes.
"""

from __future__ import annotations

import gzip
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

# --------------------------------------------------------------------------
# crawl_curate: WARC shards + held-out eval slice
# --------------------------------------------------------------------------

WORDS = (
    "the of and to in a is that for it as was with be by on not he this are "
    "or his from at which but have an had they you were their one all we can "
    "her has there been if more when will would who so no out up into them "
    "then its only time two could other new some these may first than like "
    "water earth story garden market travel music painting harbor winter "
    "river mountain village bridge letter evening morning window journey "
    "science history analysis careful detailed knowledge education report"
).split()

TEMPLATES = (
    "subscribe to our newsletter for the latest updates and offers today",
    "all rights reserved terms of service privacy policy contact us about",
    "click here to read more about this amazing story and share it now",
    "the committee met on tuesday to discuss the annual budget proposal",
)

JUNK = ("junk", "click here", "a a a a a a a a")
LANGS = ("en", "en", "en", "fr", "de")


def _warc_record(warc_type: str, uri: str, body: bytes, rec_id: str,
                 ctype: str | None = None, status: int = 200) -> bytes:
    """One WARC/1.0 record; ``response`` records wrap ``body`` in an HTTP
    response head (status line + Content-Type)."""
    if warc_type == "response":
        head = f"HTTP/1.1 {status} OK\r\nContent-Type: {ctype}\r\n\r\n".encode()
        block = head + body
    else:
        block = body
    headers = (
        "WARC/1.0\r\n"
        f"WARC-Type: {warc_type}\r\n"
        f"WARC-Record-ID: <urn:uuid:{rec_id}>\r\n"
        "WARC-Date: 2026-01-01T00:00:00Z\r\n"
        f"WARC-Target-URI: {uri}\r\n"
        f"Content-Length: {len(block)}\r\n"
    )
    if warc_type != "response" and ctype:
        headers += f"Content-Type: {ctype}\r\n"
    return headers.encode() + b"\r\n" + block + b"\r\n\r\n"


def crawl_documents(n: int, seed: int) -> list[tuple[int, str, str, str, str]]:
    """``(doc_id, kind, text, lang, source)`` with the web-crawl skew mix:
    ~55% unique word salads, ~25% template near-duplicates (a shared
    boilerplate line twice plus a 6-word edit), ~12% exact copies of an
    earlier document, ~8% junk that the quality gate must drop."""
    rng = random.Random(seed)
    docs = []
    bodies: list[str] = []
    n_sites = max(20, n // 250)
    for i in range(n):
        p = rng.random()
        if p < 0.55 or not bodies:
            kind, text = "unique", "the and " + " ".join(rng.choices(WORDS, k=40))
        elif p < 0.80:
            t = rng.choice(TEMPLATES)
            kind = "template"
            text = f"the and {t} {t} " + " ".join(rng.choices(WORDS, k=6))
        elif p < 0.92:
            kind, text = "copy", bodies[rng.randrange(len(bodies))]
        else:
            kind, text = "junk", rng.choice(JUNK)
        if kind != "junk":
            bodies.append(text)
        docs.append((i, kind, text, rng.choice(LANGS), f"site{rng.randrange(n_sites)}.com"))
    return docs


def write_crawl(root: str, n: int, seed: int, shards: int) -> dict:
    """``root/warc/part-NNNNN.warc.gz`` (one gzip member per record, the
    CommonCrawl layout) plus ``root/eval.parquet``.

    Every shard also carries the noise records a real crawl has — a
    warcinfo, a request, a 404 and an image response — which the
    status/content-type gate must drop.  The eval slice holds near-copies
    (last word swapped) of some unique documents plus unrelated
    documents; decontamination must drop the near-copied survivors."""
    docs = crawl_documents(n, seed)
    warc_dir = os.path.join(root, "warc")
    os.makedirs(warc_dir)
    for part in range(shards):
        members = [
            _warc_record("warcinfo", "", f"software: perfbench/{part}\r\n".encode(),
                         f"info-{part}", "application/warc-fields"),
            _warc_record("request", f"http://crawl.test/{part}",
                         b"GET / HTTP/1.1\r\nHost: crawl.test\r\n\r\n",
                         f"req-{part}", "application/http; msgtype=request"),
            _warc_record("response", f"http://crawl.test/missing-{part}",
                         b"<html><body>gone</body></html>", f"404-{part}",
                         "text/html", status=404),
            _warc_record("response", f"http://crawl.test/logo-{part}.png",
                         b"\x89PNG\r\n\x1a\nnot-really", f"png-{part}", "image/png"),
        ]
        members += [
            _warc_record(
                "response", f"doc:{did}|{lang}|{source}",
                f"<html><body><p>{text}</p></body></html>".encode(),
                f"doc-{did}", "text/html; charset=utf-8",
            )
            for did, _kind, text, lang, source in docs
            if did % shards == part
        ]
        with open(os.path.join(warc_dir, f"part-{part:05d}.warc.gz"), "wb") as f:
            f.write(b"".join(gzip.compress(m, 1, mtime=0) for m in members))

    rng = random.Random(seed ^ 0x5EED)
    unique = [d for d in docs if d[1] == "unique"]
    contaminated = rng.sample(unique, max(1, len(unique) // 50))
    eval_rows = [
        (10_000_000 + j, " ".join(text.split()[:-1] + ["contaminated"]))
        for j, (_, _, text, _, _) in enumerate(contaminated)
    ]
    eval_rows += [
        (20_000_000 + j, "the and " + " ".join(rng.choices(WORDS, k=40)))
        for j in range(len(contaminated))
    ]
    pq.write_table(
        pa.table({"doc_id": [r[0] for r in eval_rows], "text": [r[1] for r in eval_rows]}),
        os.path.join(root, "eval.parquet"),
    )
    kinds = [d[1] for d in docs]
    return {
        "records": n,
        "junk": kinds.count("junk"),
        "distinct_texts": len({d[2] for d in docs if d[1] != "junk"}),
        "contaminated": len(contaminated),
    }


# --------------------------------------------------------------------------
# structure_text: BRAT corpus, 7 entity types in 3 sentence templates
# --------------------------------------------------------------------------

#: template -> ordered (entity type, vocabulary) slots; literal words between
SENTENCE_TEMPLATES = (
    ("{} , aged {} , lives in {} .",
     (("NAME", ("alice", "bob", "carol", "dave", "erin", "frank", "grace", "heidi")),
      ("AGE", tuple(str(a) for a in range(20, 90, 7))),
      ("CITY", ("paris", "lyon", "nantes", "lille", "nice", "rennes")))),
    ("{} was prescribed at {} daily .",
     (("DRUG", ("aspirin", "ibuprofen", "insulin", "heparin", "morphine")),
      ("DOSE", ("5mg", "10mg", "20mg", "50mg", "100mg")))),
    ("the exam at {} on {} was normal .",
     (("HOSPITAL", ("necker", "cochin", "bichat", "pitie")),
      ("DATE", ("monday", "tuesday", "wednesday", "thursday", "friday")))),
)

#: Entity sets the schema induction must find, one group per template.
TEXT_GROUPS = tuple(frozenset(t for t, _ in slots) for _, slots in SENTENCE_TEMPLATES)


def brat_documents(n_docs: int, seed: int) -> tuple[list[tuple[str, str, str]], list[set]]:
    """``(doc_id, txt, ann)`` BRAT documents of 1-3 sentences (one per
    line) plus, per template, the set of distinct entity-value tuples."""
    rng = random.Random(seed)
    docs = []
    distinct: list[set] = [set() for _ in SENTENCE_TEMPLATES]
    for d in range(n_docs):
        lines, ann, offset, t_id = [], [], 0, 0
        for _ in range(rng.choice((1, 2, 2, 3))):
            k = rng.randrange(len(SENTENCE_TEMPLATES))
            fmt, slots = SENTENCE_TEMPLATES[k]
            values = [rng.choice(vocab) for _, vocab in slots]
            distinct[k].add(tuple(values))
            pieces = fmt.split("{}")
            line = pieces[0]
            for (etype, _), value, tail in zip(slots, values, pieces[1:]):
                start = offset + len(line)
                line += value
                t_id += 1
                ann.append(f"T{t_id}\t{etype} {start} {start + len(value)}\t{value}")
                line += tail
            lines.append(line)
            offset += len(line) + 1
        docs.append((f"doc{d:06d}", "\n".join(lines), "\n".join(ann) + "\n"))
    return docs, distinct


def write_brat(root: str, n_docs: int, seed: int, shards: int) -> dict:
    """The corpus as ``shards`` parquet files of ``(doc_id, txt, ann)``."""
    docs, distinct = brat_documents(n_docs, seed)
    path = os.path.join(root, "brat")
    os.makedirs(path)
    for part in range(shards):
        rows = docs[part::shards]
        pq.write_table(
            pa.table({
                "doc_id": [r[0] for r in rows],
                "txt": [r[1] for r in rows],
                "ann": [r[2] for r in rows],
            }),
            os.path.join(path, f"part-{part:05d}.parquet"),
        )
    return {
        "records": n_docs,
        "sentences": sum(r[1].count("\n") + 1 for r in docs),
        "rows": {TEXT_GROUPS[k]: len(s) for k, s in enumerate(distinct)},
    }
