"""WARC source: CommonCrawl-style web-archive ingestion.

Beyond-reference component (the reference loads relational/graph/document
stores; a 100-TB pretraining corpus starts life as WARC files on object
storage).  Everything here is stdlib — WARC/1.0 is line-oriented headers
+ a ``Content-Length``-delimited body per record, and ``.warc.gz`` files
are concatenated gzip members that :class:`gzip.GzipFile` inflates as
one incremental multi-member stream.

Scale design:

- **Partition = file, memory = record.** WARC is not arbitrarily
  splittable mid-stream (gzip members are per-record but offsets need
  the index sidecar), so the default unit of parallelism is the archive
  file — exactly how CommonCrawl ships (~1 GB per file, ~64k files per
  crawl ⇒ plenty of tasks for 1000 executors).  Each task STREAMS its
  file through the ``opener`` seam (ranged/chunked reads; gzip inflates
  incrementally) and parses with the O(largest record) ``_RangeBuf``
  discipline, yielding bounded pandas batches across the Arrow boundary
  — no whole-file binary cell, no per-file row list, no 2 GB cell cap.
- **Projection early.** Record filtering (``record_types``) and the
  HTML→text strip happen inside the parser, so only the rows and columns
  a query needs cross the Arrow boundary; downstream curation
  (:mod:`~architxt_spark.functions.curation`) composes directly.
- **The splittable path** (:func:`read_warc_split`) implements Hadoop
  input-format split semantics over byte ranges of UNCOMPRESSED archives:
  a record belongs to the split containing its first byte; a split that
  starts mid-record scans forward to the next validated ``WARC/1.0``
  record boundary and the previous split reads its overrunning record to
  completion via the ``Content-Length`` walk.  Bytes stay bytes — no
  lossy text decode — so binary payloads round-trip.  ``.warc.gz``
  members in the same directory fall back to one-split-per-file (gzip is
  not seekable without the index sidecar).  Per-file
  (:func:`read_warc`) remains the default: CommonCrawl ships ~64k files
  per crawl, plenty of tasks for 1000 executors; the split reader is for
  the few-large-files layout (an in-house crawler dumping 100 GB
  archives).
"""

from __future__ import annotations

import gzip
import io
import re
from typing import Any, Iterator

from pyspark.sql import DataFrame, SparkSession

#: output schema of :func:`read_warc`
WARC_SCHEMA = (
    "path string, record_id string, warc_type string, target_uri string, "
    "warc_date string, content_type string, http_status int, "
    "payload binary, text string"
)

#: appended when ``verify_digests=True`` (kept out of the default schema
#: so existing consumers and their oracles are unaffected)
_DIGEST_COL = ", digest_ok boolean"

_CRLF = b"\r\n"


def _warc_digest(value: str) -> bytes | None:
    """Decode a ``WARC-Payload-Digest``/``WARC-Block-Digest`` header
    (``sha1:<base32>`` per the WARC spec and CommonCrawl practice; hex
    accepted too) to raw bytes, or None for absent/unknown algorithms."""
    import base64

    algo, _, enc = value.partition(":")
    if algo.strip().lower() != "sha1" or not enc:
        return None
    enc = enc.strip().upper()
    try:
        if len(enc) == 32:  # base32 of 20 bytes
            return base64.b32decode(enc)
        if len(enc) == 40:  # hex
            return bytes.fromhex(enc)
    except ValueError:
        return None
    return None


def _digest_ok(headers: dict[str, str], body: bytes, payload: bytes) -> bool | None:
    """Verify the record's digest headers: payload digest against the
    HTTP payload, else block digest against the raw body.  None when the
    record carries no (usable) digest."""
    import hashlib

    want = _warc_digest(headers.get("warc-payload-digest", ""))
    if want is not None:
        return hashlib.sha1(payload).digest() == want
    want = _warc_digest(headers.get("warc-block-digest", ""))
    if want is not None:
        return hashlib.sha1(body).digest() == want
    return None


def parse_warc(data: bytes) -> Iterator[dict[str, Any]]:
    """Parse one WARC stream (already decompressed) into record dicts:
    version line, header block, ``Content-Length`` body, blank-line
    separators.  Tolerant of trailing garbage — parsing stops at the
    first malformed record boundary rather than raising."""
    buf = io.BytesIO(data)
    while True:
        # skip record separators / leading blank lines
        line = buf.readline()
        while line in (_CRLF, b"\n"):
            line = buf.readline()
        if not line:
            return
        if not line.startswith(b"WARC/"):
            return  # trailing garbage: stop cleanly
        headers: dict[str, str] = {}
        while True:
            line = buf.readline()
            if line in (_CRLF, b"\n", b""):
                break
            if b":" in line:
                k, v = line.split(b":", 1)
                headers[k.decode("ascii", "replace").strip().lower()] = (
                    v.decode("utf-8", "replace").strip()
                )
        try:
            length = int(headers.get("content-length", ""))
        except ValueError:
            return
        body = buf.read(length)
        if len(body) < length:
            return  # truncated record
        yield {
            "record_id": headers.get("warc-record-id", ""),
            "warc_type": headers.get("warc-type", ""),
            "target_uri": headers.get("warc-target-uri", ""),
            "warc_date": headers.get("warc-date", ""),
            "content_type": headers.get("content-type", ""),
            "body": body,
        }


def split_http_response(body: bytes) -> tuple[int | None, str, bytes]:
    """Split a ``response`` record body (an HTTP message) into
    ``(status, content_type, payload)``; non-HTTP bodies pass through
    with ``status=None``."""
    if not body.startswith(b"HTTP/"):
        return None, "", body
    head, sep, payload = body.partition(b"\r\n\r\n")
    if not sep:
        head, sep, payload = body.partition(b"\n\n")
    status: int | None = None
    ctype = ""
    lines = head.split(b"\n")
    first = lines[0].split()
    if len(first) >= 2 and first[1].isdigit():
        status = int(first[1])
    for ln in lines[1:]:
        if b":" in ln:
            k, v = ln.split(b":", 1)
            if k.strip().lower() == b"content-type":
                ctype = v.decode("utf-8", "replace").strip()
    return status, ctype, payload


_NONTEXT_RE = re.compile(r"(?is)<(script|style)\b.*?</\1\s*>|<!--.*?-->")
#: block-level boundaries become line breaks, so the downstream C4 line
#: filter sees one line per paragraph/heading/list item — matching what
#: real extraction pipelines feed it.
_BLOCK_TAG_RE = re.compile(
    r"(?i)</?(p|div|br|li|ul|ol|h[1-6]|tr|table|section|article|blockquote)\b[^>]*>"
)
_TAG_RE = re.compile(r"<[^>]+>")


def html_to_text(payload: bytes) -> str:
    """Heuristic HTML→text: drop script/style/comments, turn block-tag
    boundaries into line breaks, strip remaining tags, unescape the
    common entities, collapse blank runs.  A deliberate stdlib heuristic
    (the trafilatura-class extractors are environment-gated deps); the
    C4 line filter downstream is designed to eat what this leaves."""
    text = _NONTEXT_RE.sub(" ", payload.decode("utf-8", "replace"))
    text = _BLOCK_TAG_RE.sub("\n", text)
    text = _TAG_RE.sub(" ", text)
    # &amp; LAST: unescaping it first would turn a double-escaped entity
    # (&amp;lt;) into &lt; and then a literal '<' on the next pass
    for ent, ch in (("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'),
                    ("&#39;", "'"), ("&nbsp;", " "), ("&amp;", "&")):
        text = text.replace(ent, ch)
    lines = [re.sub(r"[ \t]+", " ", ln).strip() for ln in text.splitlines()]
    return "\n".join(ln for ln in lines if ln)


def _records_for_file(
    path: str, data: bytes, record_types: tuple[str, ...], extract_text: bool
) -> Iterator[dict[str, Any]]:
    if path.endswith(".gz"):
        data = gzip.decompress(data)  # multi-member streams inflate whole
    for rec in parse_warc(data):
        if record_types and rec["warc_type"] not in record_types:
            continue
        status, ctype, payload = (
            split_http_response(rec["body"])
            if rec["warc_type"] == "response"
            else (None, rec["content_type"], rec["body"])
        )
        is_texty = "html" in ctype or ctype.startswith("text/")
        yield {
            "path": path,
            "record_id": rec["record_id"],
            "warc_type": rec["warc_type"],
            "target_uri": rec["target_uri"],
            "warc_date": rec["warc_date"],
            "content_type": ctype,
            "http_status": status,
            "payload": payload,
            "text": html_to_text(payload) if (extract_text and is_texty) else "",
        }


_WARC_COLS = [
    "path", "record_id", "warc_type", "target_uri", "warc_date",
    "content_type", "http_status", "payload", "text",
]

#: flush a pandas batch to Arrow once its accumulated payload bytes cross
#: this, regardless of row count — a page-payload archive never builds a
#: multi-GB Arrow batch out of a few huge records
_BATCH_BYTES = 64 << 20


def _batched_frames(rows_iter, batch_rows: int, cols: list[str] | None = None):
    """Group a record-dict iterator into bounded pandas DataFrames:
    ``batch_rows`` rows OR :data:`_BATCH_BYTES` of payload per frame,
    whichever trips first.  Always yields at least one (possibly empty)
    frame so mapInPandas emits a stable schema."""
    import pandas as pd

    cols = cols or _WARC_COLS
    rows: list[dict[str, Any]] = []
    nbytes = 0
    emitted = False
    for rec in rows_iter:
        rows.append(rec)
        nbytes += len(rec["payload"]) + len(rec["text"])
        if len(rows) >= batch_rows or nbytes >= _BATCH_BYTES:
            yield pd.DataFrame(rows, columns=cols)
            rows, nbytes, emitted = [], 0, True
    if rows or not emitted:
        yield pd.DataFrame(rows, columns=cols)


def _uri_scheme(path: str) -> str:
    """URI scheme of ``path`` ('' for plain local paths).  Windows drive
    letters are not schemes (single char before ':')."""
    m = re.match(r"^([A-Za-z][A-Za-z0-9+.-]+)://", path)
    return m.group(1).lower() if m else ""


def _local_path(path: str) -> str:
    """Strip a ``file:`` scheme (the Hadoop lister returns file:/ URIs in
    local mode); other paths pass through."""
    if path.startswith("file:"):
        from urllib.parse import unquote, urlparse

        return unquote(urlparse(path).path)
    return path


def _default_opener(path: str):
    return open(_local_path(path), "rb")


def _hadoop_ls(spark: SparkSession, pattern: str) -> list[str]:
    """List ``pattern`` (a path, directory, or glob) through the active
    Hadoop FileSystem — the same listing `spark.read` uses, so every
    scheme the cluster's connectors support (hdfs://, s3a://, file://)
    works; directories descend recursively."""
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(pattern)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    statuses = fs.globStatus(jpath)
    if statuses is None or len(statuses) == 0:
        raise FileNotFoundError(f"no WARC files under {pattern!r}")
    out: list[str] = []
    for st in statuses:
        if st.isDirectory():
            it = fs.listFiles(st.getPath(), True)
            while it.hasNext():
                out.append(it.next().getPath().toString())
        else:
            out.append(st.getPath().toString())
    return sorted(out)


def _list_warc_files(
    path: str,
    *,
    spark: SparkSession | None = None,
    lister=None,
    suffixes: tuple[str, ...] | None = None,
) -> list[str]:
    """Driver-side enumeration behind the ``lister`` seam: a file path
    as-is; a directory's regular files RECURSIVELY; a glob pattern
    (``*``/``?``/``[]``, ``**`` supported); a ``scheme://`` URI via the
    Hadoop FileSystem (http(s) has no listing protocol — such a URI is
    taken as one file).  ``suffixes`` filters directory/glob listings
    (an explicitly named file always passes — garbage parses to zero
    records, matching the binaryFile source this replaces).  Pass
    ``lister`` (``path -> iterable[str]``) to override everything, e.g.
    an object-store manifest."""
    import os

    if lister is not None:
        return sorted(lister(path))
    scheme = _uri_scheme(path)
    if scheme in ("http", "https"):
        return [path]
    if scheme and scheme != "file":
        if spark is None:
            raise ValueError(
                f"remote path {path!r} needs an active SparkSession or a lister"
            )
        files = _hadoop_ls(spark, path)
        if suffixes:
            files = [f for f in files if f.endswith(suffixes)]
        if not files:
            raise FileNotFoundError(f"no WARC files under {path!r}")
        return files
    local = _local_path(path)
    if os.path.isfile(local):
        return [path]
    if re.search(r"[*?\[]", local):
        import glob as _glob

        # Mirror _hadoop_ls (globStatus + recursive listFiles): matched
        # directories descend recursively, so crawls/* over per-crawl
        # subdirectories lists their files rather than erroring.
        out = []
        for p in _glob.glob(local, recursive=True):
            if os.path.isfile(p):
                out.append(p)
            elif os.path.isdir(p):
                out.extend(
                    os.path.join(root, n)
                    for root, _dirs, names in os.walk(p)
                    for n in names
                    if os.path.isfile(os.path.join(root, n))
                )
        out = sorted(out)
        if suffixes:
            out = [p for p in out if p.endswith(suffixes)]
        if out:
            return out
    if os.path.isdir(local):
        out = sorted(
            os.path.join(root, n)
            for root, _dirs, names in os.walk(local)
            for n in names
            if os.path.isfile(os.path.join(root, n))
        )
        if suffixes:
            out = [p for p in out if p.endswith(suffixes)]
        if out:
            return out
    raise FileNotFoundError(f"no WARC files under {path!r}")


def _file_size(path: str, opener) -> int:
    """Archive size for split planning: a local stat when the path is
    local, else the opened file's ``size`` attribute/method — the
    :class:`HttpRangeFile` contract for remote openers."""
    import os

    if _uri_scheme(path) in ("", "file"):
        return os.path.getsize(_local_path(path))
    f = opener(path)
    try:
        size = getattr(f, "size", None)
        size = size() if callable(size) else size
        if size is None:
            raise ValueError(
                f"cannot size remote archive {path!r}: the opener's file "
                "exposes no 'size' attribute (see HttpRangeFile)"
            )
        return int(size)
    finally:
        f.close()


def _read_sidecar(p: str, opener) -> list[tuple[int, int]]:
    """Member offsets from the ``<p>.idx`` sidecar, or ``[]`` when
    absent.  Local sidecars stream line-wise through a closed-on-exit
    handle; remote ones probe through the ``opener`` (a missing object
    surfaces as FileNotFoundError/OSError on open or first read)."""
    import os

    idx = p + ".idx"
    if _uri_scheme(p) in ("", "file"):
        lp = _local_path(idx)
        if not os.path.exists(lp):
            return []
        with open(lp, encoding="utf-8") as fh:
            return _parse_idx(fh)
    try:
        f = opener(idx)
        try:
            data = f.read()
        finally:
            f.close()
    except OSError:
        return []
    return _parse_idx(data.decode("utf-8", "replace"))


# URLs whose server already proved it ignores Range (per-process, purely
# advisory — dedups the warning, never changes read behavior).
_RANGE_IGNORED_WARNED: set[str] = set()


class HttpRangeFile:
    """Read-only seekable file over HTTP(S) via ``Range`` requests
    (stdlib urllib) — the object-storage ``opener`` for the WARC
    readers.  Access pattern: a ``seek`` is lazy; the first ``read``
    after it opens ONE streaming ``Range: bytes=<pos>-`` GET and
    subsequent sequential reads drain that same response, so a
    :func:`read_warc_split` task issues exactly one ranged GET per
    split (the design contract of the ``.idx`` split path).  ``size``
    comes from a HEAD (falling back to a 1-byte Range probe's
    ``Content-Range`` total for HEAD-less servers)."""

    def __init__(self, url: str, *, timeout: float = 60.0) -> None:
        self.url = url
        self._timeout = timeout
        self._pos = 0
        self._resp = None
        self._resp_pos: int | None = None
        self._size: int | None = None
        self._eof_pos: int | None = None  # lowest offset known past EOF (416)

    def size(self) -> int:
        import urllib.request

        if self._size is None:
            try:
                req = urllib.request.Request(self.url, method="HEAD")
                with urllib.request.urlopen(req, timeout=self._timeout) as r:
                    self._size = int(r.headers["Content-Length"])
            except (OSError, TypeError, ValueError):
                req = urllib.request.Request(
                    self.url, headers={"Range": "bytes=0-0"}
                )
                with urllib.request.urlopen(req, timeout=self._timeout) as r:
                    total = (r.headers.get("Content-Range") or "").rpartition("/")[2]
                    if total:
                        self._size = int(total)
                    elif r.status == 200 and r.headers.get("Content-Length"):
                        # Server honors neither HEAD nor Range (200, full
                        # body): the whole response IS the object.  A 206
                        # without Content-Range must NOT take this branch —
                        # its Content-Length is the probe's 1 byte and
                        # would silently truncate split planning.
                        self._size = int(r.headers["Content-Length"])
                    else:
                        raise ValueError(
                            f"cannot size {self.url!r}: server answered the "
                            f"Range probe (status {r.status}) with neither "
                            "Content-Range nor a full-body Content-Length "
                            "(and HEAD failed)"
                        )
        return self._size

    def seek(self, pos: int, whence: int = 0) -> int:
        if whence != 0:
            raise io.UnsupportedOperation("HttpRangeFile supports absolute seek only")
        self._pos = pos
        return pos

    def read(self, n: int = -1) -> bytes:
        import urllib.error
        import urllib.request

        if self._eof_pos is not None and self._pos >= self._eof_pos:
            return b""
        if self._resp is None or self._resp_pos != self._pos:
            if self._resp is not None:
                self._resp.close()
                self._resp = None
            req = urllib.request.Request(
                self.url, headers={"Range": f"bytes={self._pos}-"}
            )
            try:
                self._resp = urllib.request.urlopen(req, timeout=self._timeout)
            except urllib.error.HTTPError as e:
                if e.code == 416:  # past EOF: reads return b"" like a file
                    self._eof_pos = self._pos
                    return b""
                raise
            if self._pos and self._resp.status != 206:
                # Server ignored Range (200 = full body, e.g. stdlib
                # http.server or a stripping proxy): returning its bytes
                # as-if-at-pos would silently corrupt the split. Drain up
                # to pos so reads stay position-correct — O(prefix) bytes
                # per split, so tell the operator once per process.
                if self.url not in _RANGE_IGNORED_WARNED:
                    _RANGE_IGNORED_WARNED.add(self.url)
                    import warnings

                    warnings.warn(
                        f"{self.url!r}: server ignores Range requests; each "
                        "split drains the byte prefix (O(total_bytes x "
                        "n_splits) traffic). Prefer a single split or a "
                        "Range-capable endpoint.",
                        RuntimeWarning,
                        stacklevel=2,
                    )
                skip = self._pos
                while skip:
                    chunk = self._resp.read(min(skip, 1 << 20))
                    if not chunk:
                        self._eof_pos = self._pos - skip
                        return b""
                    skip -= len(chunk)
            self._resp_pos = self._pos
        data = self._resp.read() if n is None or n < 0 else self._resp.read(n)
        self._pos += len(data)
        self._resp_pos = self._pos
        return data

    def close(self) -> None:
        if self._resp is not None:
            self._resp.close()
            self._resp = None

    def __enter__(self):
        return self

    def __exit__(self, *exc) -> None:
        self.close()


def http_opener(url: str) -> HttpRangeFile:
    """``opener`` seam instance for HTTP(S) object storage: ranged-GET
    streaming reads (one GET per split task)."""
    return HttpRangeFile(url)


def read_warc(
    spark: SparkSession,
    path: str,
    *,
    record_types: tuple[str, ...] = ("response",),
    extract_text: bool = True,
    batch_rows: int = 1024,
    opener=None,
    lister=None,
    verify_digests: bool = False,
) -> DataFrame:
    """Read WARC/WARC.gz archives under ``path`` into a DataFrame (one
    row per selected record).  ``record_types=()`` keeps every record
    (warcinfo/request/metadata included); ``extract_text`` adds the
    stripped-HTML ``text`` column for text/HTML payloads.
    ``verify_digests=True`` appends a ``digest_ok`` column — sha1 of the
    payload (or raw block) recomputed against the record's
    ``WARC-Payload-Digest``/``WARC-Block-Digest`` header, null when the
    record carries none — so corrupted transfers surface as a filterable
    flag instead of silently flowing into the corpus.

    ``path`` may be a file, a directory (recursive), a glob pattern, or
    a ``scheme://`` URI — URIs list through the active Hadoop FileSystem
    (hdfs/s3a/file, whatever the cluster's connectors mount); http(s)
    URLs are taken as a single archive (no listing protocol).  Pass
    ``lister`` (``path -> iterable[str]``) to override enumeration (an
    object-store manifest), and ``opener`` (``path -> binary file-like``)
    so executors can open what the lister returned — the default opener
    reads the LOCAL filesystem only (``file:`` URIs included); remote
    paths need both seams or a mounted connector (e.g.
    :func:`http_opener` for ranged-GET HTTP reads).

    Memory model: STREAMING per file.  Each task reads its archive
    incrementally through the ``opener`` seam — ``.gz`` members inflate
    through :class:`gzip.GzipFile` (multi-member, chunked), plain
    archives read through the same :class:`_RangeBuf` discipline as the
    split reader — so resident task memory is O(largest record + read
    chunk), never O(file).  A 1 GB CommonCrawl archive (~4 GB inflated)
    parses in a task holding a few tens of MB; there is no 2 GB
    binary-cell ceiling because no whole-file cell ever exists.  Output
    crosses the Arrow boundary in bounded batches (``batch_rows`` rows or
    64 MB of payload per batch).  Unit of parallelism remains the file —
    use :func:`read_warc_split` to carve few-huge-file layouts into
    byte-range tasks."""
    import pandas as pd

    paths = _list_warc_files(
        path, spark=spark, lister=lister, suffixes=(".warc", ".warc.gz", ".gz")
    )
    file_opener = opener or _default_opener

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for p in pdf["path"]:
                if p.endswith(".gz"):
                    op = lambda q: gzip.GzipFile(fileobj=file_opener(q))  # noqa: E731
                else:
                    op = file_opener
                recs = _range_records(
                    p, 0, _WHOLE_FILE, record_types, extract_text, op,
                    verify_digests,
                )
                yield from _batched_frames(recs, batch_rows, cols)

    cols = _WARC_COLS + (["digest_ok"] if verify_digests else [])
    schema = WARC_SCHEMA + (_DIGEST_COL if verify_digests else "")
    files = spark.createDataFrame(
        [(p,) for p in paths], "path string"
    ).repartition(len(paths))
    return files.mapInPandas(parse, schema)


_REC_MAGIC = b"WARC/1.0\r\n"
#: "end" sentinel for whole-stream parsing (gzip streams have no known
#: decompressed size up front; the record walk stops at EOF regardless)
_WHOLE_FILE = 1 << 62
#: grow the split buffer in steps of this many bytes while completing a
#: record that overruns the split end (bounds per-read memory, not
#: record size — a record larger than the split still completes)
_TAIL_STEP = 1 << 24


class _RangeFile:
    """Read-only file-like view over ``[start, end)`` of an underlying
    binary stream — the ranged-GET shape: wraps one seek + bounded
    sequential reads, so a gzip member-range split never reads outside
    its slice."""

    def __init__(self, f, start: int, end: int) -> None:
        self._f = f
        self._left = end - start
        f.seek(start)

    def read(self, n: int = -1) -> bytes:
        if self._left <= 0:
            return b""
        take = self._left if n is None or n < 0 else min(n, self._left)
        data = self._f.read(take)
        self._left -= len(data)
        return data

    def close(self) -> None:
        self._f.close()

    def __enter__(self):
        return self

    def __exit__(self, *exc) -> None:
        self.close()


def _parse_idx(src) -> list[tuple[int, int]]:
    """Parse a gzip member-offset sidecar into ``(offset, length)`` pairs.
    Two accepted layouts: plain ``offset length`` integer lines, and
    CDX(J) lines whose trailing JSON object carries ``"offset"`` /
    ``"length"`` fields (the CommonCrawl index record shape).  Unparsable
    lines are skipped; results are offset-sorted.  ``src`` is a string or
    any iterable of lines (an open text file streams line-wise — a large
    CDX sidecar never materializes as one driver string)."""
    import json

    out: list[tuple[int, int]] = []
    for line in src.splitlines() if isinstance(src, str) else src:
        line = line.strip()
        if not line:
            continue
        brace = line.find("{")
        if brace >= 0:
            try:
                obj = json.loads(line[brace:])
                out.append((int(obj["offset"]), int(obj["length"])))
                continue
            except (ValueError, KeyError):
                pass
        parts = line.split()
        if len(parts) >= 2:
            try:
                out.append((int(parts[0]), int(parts[1])))
            except ValueError:
                pass
    return sorted(out)


def _member_ranges(
    members: list[tuple[int, int]], split_bytes: int, file_size: int
) -> list[tuple[int, int]]:
    """Pack member ``(offset, length)`` entries into contiguous compressed
    byte ranges of ≤ ``split_bytes`` (always ≥ 1 member per range) that
    TILE ``[0, file_size)`` exactly.  Only the offsets matter: each listed
    offset is a gzip member start, segment ends are the next listed offset
    (or EOF), so a PARTIAL sidecar — real CommonCrawl CDX files index
    response records only and omit revisit/dedup'd records — bridges its
    gaps into the preceding range instead of silently dropping the
    unindexed members.  Byte 0 is always a member start in a valid gzip
    file, so the tiling covers every record and the split reader stays
    byte-identical to the per-file reader regardless of sidecar coverage."""
    starts = sorted({off for off, _ in members if 0 <= off < file_size})
    if file_size <= 0:
        return []
    if not starts or starts[0] != 0:
        starts.insert(0, 0)
    bounds = starts + [file_size]
    ranges: list[tuple[int, int]] = []
    rstart = 0
    for i in range(1, len(bounds)):
        if bounds[i] - rstart > split_bytes and bounds[i - 1] > rstart:
            ranges.append((rstart, bounds[i - 1]))
            rstart = bounds[i - 1]
    ranges.append((rstart, file_size))
    return ranges


class _RangeBuf:
    """Absolute-offset view over a byte range of an open file: ``ensure``
    extends the buffer lazily so a record overrunning the split end is
    completed without reading the whole rest of the file."""

    def __init__(self, f, start: int) -> None:
        self._f = f
        self.base = start
        self.buf = bytearray()
        self.eof = False
        f.seek(start)

    def ensure(self, abs_end: int) -> bool:
        """Grow until the buffer covers ``[base, abs_end)``; False on EOF."""
        while self.base + len(self.buf) < abs_end and not self.eof:
            chunk = self._f.read(max(abs_end - self.base - len(self.buf), _TAIL_STEP))
            if not chunk:
                self.eof = True
            self.buf.extend(chunk)
        return self.base + len(self.buf) >= abs_end

    def advance(self, abs_pos: int) -> None:
        """Discard buffered bytes before ``abs_pos`` (callers promise all
        later reads are at/after it) — keeps task memory O(largest
        record), not O(split)."""
        cut = abs_pos - self.base
        if cut > 0:
            del self.buf[:cut]
            self.base = abs_pos

    def find(self, needle: bytes, abs_from: int) -> int:
        """Absolute offset of ``needle`` at/after ``abs_from`` within the
        CURRENT buffer, or -1 (callers ensure() the range they scan)."""
        i = self.buf.find(needle, abs_from - self.base)
        return -1 if i < 0 else self.base + i

    def slice(self, abs_from: int, abs_to: int) -> bytes:
        return bytes(self.buf[abs_from - self.base : abs_to - self.base])


def _parse_record_at(rb: _RangeBuf, pos: int):
    """Parse one record whose version line starts at absolute ``pos``.
    Returns ``(headers, body, next_pos)`` or ``None`` if the bytes at
    ``pos`` are not a well-formed record (used both for normal parsing
    and to reject false sync candidates inside payloads)."""
    # header block ends at the first blank line
    if not rb.ensure(pos + len(_REC_MAGIC)):
        return None
    if rb.slice(pos, pos + len(_REC_MAGIC)) != _REC_MAGIC:
        return None
    hdr_end = -1
    probe = pos + 4096
    while hdr_end < 0:
        grew = rb.ensure(probe)
        hdr_end = rb.find(b"\r\n\r\n", pos)
        if hdr_end >= 0 or (not grew and rb.eof):
            break
        probe += 4096
    if hdr_end < 0:
        return None
    headers: dict[str, str] = {}
    for line in rb.slice(pos + len(_REC_MAGIC), hdr_end).split(b"\r\n"):
        if b":" not in line:
            return None  # non-header line before the blank ⇒ not a record
        k, v = line.split(b":", 1)
        headers[k.decode("ascii", "replace").strip().lower()] = (
            v.decode("utf-8", "replace").strip()
        )
    try:
        length = int(headers.get("content-length", ""))
    except ValueError:
        return None
    if length < 0 or "warc-type" not in headers:
        return None
    body_start = hdr_end + 4
    if not rb.ensure(body_start + length):
        return None  # truncated file
    body = rb.slice(body_start, body_start + length)
    nxt = body_start + length
    # consume the record separator (two CRLFs; tolerate bare LFs)
    rb.ensure(nxt + 4)
    while rb.slice(nxt, nxt + 2) == b"\r\n":
        nxt += 2
        rb.ensure(nxt + 2)
    while rb.slice(nxt, nxt + 1) == b"\n":
        nxt += 1
        rb.ensure(nxt + 1)
    return headers, body, nxt


def _sync_to_record(rb: _RangeBuf, start: int, end: int) -> int:
    """First absolute offset in ``[start, end)`` where a VALIDATED record
    begins, or -1.  Validation (full header parse + Content-Length) is
    what makes pattern sync safe: a payload that merely contains the
    ``WARC/1.0`` magic fails the parse and the scan moves on.

    Limitation shared with every pattern-sync input format (Hadoop's WARC
    readers included): a payload that embeds a COMPLETE well-formed WARC
    record can be picked up as a phantom sync point when a split boundary
    lands inside it.  The container's ``Content-Length`` walk in the
    previous split still emits the true record, and the phantom's end is
    no record boundary, so :func:`_range_records` resyncs after it
    instead of ending the split — every true record is emitted once, plus
    at worst one phantom row for adversarial payloads."""
    pos = start
    while pos < end:
        rb.advance(pos)
        rb.ensure(min(end, pos + _TAIL_STEP) + len(_REC_MAGIC))
        cand = rb.find(_REC_MAGIC, pos)
        if cand < 0 or cand >= end:
            # magic may still sit past the buffered horizon but before end
            if rb.base + len(rb.buf) >= end or rb.eof:
                return -1
            pos = rb.base + len(rb.buf) - len(_REC_MAGIC)
            continue
        if _parse_record_at(rb, cand) is not None:
            return cand
        pos = cand + 1
    return -1


def _range_records(
    path: str,
    start: int,
    end: int,
    record_types: tuple[str, ...],
    extract_text: bool,
    opener,
    verify_digests: bool = False,
) -> Iterator[dict[str, Any]]:
    """Records whose first byte lies in ``[start, end)`` — the Hadoop
    split contract.  A record overrunning ``end`` is read to completion
    here and skipped by the next split's sync scan."""
    with opener(path) as f:
        rb = _RangeBuf(f, start)
        pos = start if start == 0 else _sync_to_record(rb, start, end)
        if pos < 0:
            return
        while pos < end:
            rb.advance(pos)
            parsed = _parse_record_at(rb, pos)
            if parsed is None:
                if start == 0:
                    return  # malformed tail: stop, mirroring parse_warc
                # a synced split may have walked off a phantom record
                # embedded in an outer payload: scan on for a true one
                pos = _sync_to_record(rb, pos + 1, end)
                if pos < 0:
                    return
                continue
            headers, body, nxt = parsed
            wtype = headers.get("warc-type", "")
            if not record_types or wtype in record_types:
                status, ctype, payload = (
                    split_http_response(body)
                    if wtype == "response"
                    else (None, headers.get("content-type", ""), body)
                )
                is_texty = "html" in ctype or ctype.startswith("text/")
                row = {
                    "path": path,
                    "record_id": headers.get("warc-record-id", ""),
                    "warc_type": wtype,
                    "target_uri": headers.get("warc-target-uri", ""),
                    "warc_date": headers.get("warc-date", ""),
                    "content_type": ctype,
                    "http_status": status,
                    "payload": payload,
                    "text": html_to_text(payload) if (extract_text and is_texty) else "",
                }
                if verify_digests:
                    row["digest_ok"] = _digest_ok(headers, body, payload)
                yield row
            pos = nxt


def read_warc_split(
    spark: SparkSession,
    path: str,
    *,
    split_bytes: int = 128 << 20,
    record_types: tuple[str, ...] = ("response",),
    extract_text: bool = True,
    opener=None,
    lister=None,
    verify_digests: bool = False,
) -> DataFrame:
    """Splittable WARC reader: uncompressed ``.warc`` files are carved
    into ``split_bytes`` byte ranges — ONE TASK PER RANGE, so a single
    100 GB archive parses across the whole cluster instead of one
    executor.  Same output schema as :func:`read_warc`.

    Split semantics are the Hadoop input-format contract (a record
    belongs to the split containing its first byte; splits sync forward
    to a validated record boundary), so the result is byte-identical to
    the per-file reader.  ``.warc.gz`` files split by gzip MEMBER ranges
    when an offset sidecar ``<file>.idx`` sits next to them (plain
    ``offset length`` lines or CDXJ lines with ``"offset"``/``"length"``
    — the CommonCrawl index shape; members are per-record, so ranges are
    record-aligned and each split inflates independently); without a
    sidecar they stream as one full-file split (gzip cannot seek blind).
    A PARTIAL sidecar (real CDX files index response records only) still
    yields byte-identical output: ranges tile the whole compressed file,
    bridging unindexed members into the preceding range
    (:func:`_member_ranges`).

    ``opener`` is the storage seam: any ``path -> binary file-like``
    callable (default: local ``open``, ``file:`` URIs included; pass
    :func:`http_opener` or an fsspec/S3 opener on object storage —
    executors then issue exactly one ranged GET stream per split).
    ``lister`` overrides path enumeration as in :func:`read_warc`; for
    remote paths the planner sizes archives via the opened file's
    ``size`` attribute (the :class:`HttpRangeFile` contract) and probes
    ``<file>.idx`` through the opener.  Every path is O(largest record)
    task memory."""
    import pandas as pd

    file_opener = opener or _default_opener
    paths = _list_warc_files(
        path, spark=spark, lister=lister, suffixes=(".warc", ".warc.gz", ".gz")
    )
    chunks: list[tuple[str, int, int, bool]] = []
    for p in paths:
        size = _file_size(p, file_opener)
        if p.endswith(".gz"):
            members = _read_sidecar(p, file_opener)
            if members:
                for s, e in _member_ranges(members, split_bytes, size):
                    chunks.append((p, s, e, True))
            else:
                chunks.append((p, 0, size, True))
        else:
            for off in range(0, max(size, 1), split_bytes):
                chunks.append((p, off, min(off + split_bytes, size), False))

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for p, s, e, gz in zip(pdf["path"], pdf["start"], pdf["end"], pdf["gz"]):
                if gz:
                    # inflate the member-aligned compressed range as one
                    # incremental multi-member stream; record walk from 0
                    op = lambda q, s=int(s), e=int(e): gzip.GzipFile(  # noqa: E731
                        fileobj=_RangeFile(file_opener(q), s, e)
                    )
                    recs = _range_records(p, 0, _WHOLE_FILE, record_types,
                                          extract_text, op, verify_digests)
                else:
                    recs = _range_records(p, int(s), int(e), record_types,
                                          extract_text, file_opener,
                                          verify_digests)
                yield from _batched_frames(recs, 1024, cols)

    cols = _WARC_COLS + (["digest_ok"] if verify_digests else [])
    schema = WARC_SCHEMA + (_DIGEST_COL if verify_digests else "")
    ranges = spark.createDataFrame(
        chunks, "path string, start long, end long, gz boolean"
    ).repartition(len(chunks))
    return ranges.mapInPandas(parse, schema)


def build_warc(records: list[dict[str, Any]], *, digests: bool = False) -> bytes:
    """Serialize record dicts into WARC/1.0 bytes — the fixture writer
    tests and examples use (``warc_type``, ``target_uri``, ``payload``,
    optional ``http_status``/``content_type``/``record_id``/``date``).
    ``digests=True`` stamps real ``WARC-Payload-Digest`` headers
    (``sha1:<base32>``, the CommonCrawl shape); a per-record
    ``payload_digest`` value overrides the computed one (corrupt-transfer
    fixtures)."""
    import base64
    import hashlib

    out = io.BytesIO()
    for i, r in enumerate(records):
        if r.get("warc_type", "response") == "response":
            status = r.get("http_status", 200)
            ctype = r.get("content_type", "text/html")
            body = (
                f"HTTP/1.1 {status} OK\r\nContent-Type: {ctype}\r\n\r\n".encode()
                + r["payload"]
            )
        else:
            body = r["payload"]
        headers = [
            b"WARC/1.0",
            b"WARC-Type: " + r.get("warc_type", "response").encode(),
            b"WARC-Record-ID: " + r.get("record_id", f"<urn:uuid:rec-{i}>").encode(),
            b"WARC-Date: " + r.get("date", "2026-01-01T00:00:00Z").encode(),
            b"WARC-Target-URI: " + r.get("target_uri", "").encode(),
            b"Content-Length: " + str(len(body)).encode(),
        ]
        if digests or "payload_digest" in r:
            dg = r.get("payload_digest") or (
                "sha1:"
                + base64.b32encode(hashlib.sha1(r["payload"]).digest()).decode()
            )
            headers.insert(5, b"WARC-Payload-Digest: " + dg.encode())
        out.write(_CRLF.join(headers) + _CRLF + _CRLF + body + _CRLF + _CRLF)
    return out.getvalue()
