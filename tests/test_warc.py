"""WARC source (sources/warc.py): parser, HTTP split, HTML strip, and the
distributed binaryFile→mapInPandas reader on plain + gzip fixtures."""

import gzip

import pytest

from architxt_spark.sources.warc import (
    build_warc,
    html_to_text,
    parse_warc,
    read_warc,
    split_http_response,
)

HTML = (
    b"<html><head><title>T</title><style>p{color:red}</style>"
    b"<script>var x=1;</script></head>"
    b"<body><h1>Big &amp; bold</h1><p>First good paragraph here.</p>\n"
    b"<p>Second fine paragraph there.</p></body></html>"
)


def _records():
    return [
        {"warc_type": "warcinfo", "payload": b"software: test\r\n", "content_type": "application/warc-fields"},
        {"warc_type": "response", "target_uri": "http://a.example/x", "payload": HTML},
        {"warc_type": "response", "target_uri": "http://b.example/y",
         "payload": b"\x00\x01binary", "content_type": "application/octet-stream"},
        {"warc_type": "request", "target_uri": "http://a.example/x",
         "payload": b"GET /x HTTP/1.1\r\n\r\n"},
    ]


def test_parse_roundtrip():
    recs = list(parse_warc(build_warc(_records())))
    assert [r["warc_type"] for r in recs] == ["warcinfo", "response", "response", "request"]
    assert recs[1]["target_uri"] == "http://a.example/x"
    status, ctype, payload = split_http_response(recs[1]["body"])
    assert status == 200 and ctype == "text/html" and payload == HTML


def test_parse_stops_at_garbage():
    data = build_warc(_records()[:2]) + b"NOT A WARC RECORD"
    assert len(list(parse_warc(data))) == 2
    # truncated body: record dropped, no raise
    good = build_warc(_records()[:1])
    assert list(parse_warc(good[:-10])) == []


def test_html_to_text():
    text = html_to_text(HTML)
    assert "First good paragraph here." in text
    assert "Second fine paragraph there." in text
    assert "Big & bold" in text
    assert "var x=1" not in text and "color:red" not in text and "<p>" not in text


def test_read_warc_distributed(spark, tmp_path):
    raw = build_warc(_records())
    (tmp_path / "a.warc").write_bytes(raw)
    (tmp_path / "b.warc.gz").write_bytes(gzip.compress(raw))

    df = read_warc(spark, str(tmp_path)).cache()
    rows = df.collect()
    # default record_types=('response',): 2 responses per file, 2 files
    assert len(rows) == 4
    by_uri = {(r.path.split("/")[-1], r.target_uri): r for r in rows}
    for fname in ("a.warc", "b.warc.gz"):
        html_row = by_uri[(fname, "http://a.example/x")]
        assert html_row.http_status == 200
        assert bytes(html_row.payload) == HTML
        assert "First good paragraph here." in html_row.text
        bin_row = by_uri[(fname, "http://b.example/y")]
        assert bin_row.text == "" and bytes(bin_row.payload) == b"\x00\x01binary"

    all_types = read_warc(spark, str(tmp_path / "a.warc"), record_types=())
    assert {r.warc_type for r in all_types.collect()} == {
        "warcinfo", "response", "request"
    }


def test_read_warc_composes_with_curation(spark, tmp_path):
    """The advertised chain: WARC → text → C4 line clean."""
    from pyspark.sql import functions as F

    from architxt_spark.functions import text as T

    page = (
        b"<html><body>"
        b"<p>The first proper sentence of the page stands here.</p>"
        b"<p>Please enable javascript to continue.</p>"
        b"<p>A second proper sentence follows right after it.</p>"
        b"<p>The third proper sentence closes the page nicely.</p>"
        b"</body></html>"
    )
    (tmp_path / "c.warc").write_bytes(
        build_warc([{"warc_type": "response", "target_uri": "http://c/", "payload": page}])
    )
    df = read_warc(spark, str(tmp_path / "c.warc"))
    clean = T.c4_clean(F.col("text"))
    row = df.select(clean.alias("clean"), T.c4_keep(F.col("text"), clean).alias("keep")).first()
    assert row.keep is True
    assert "javascript" not in row.clean
    assert row.clean.count("\n") == 2  # three kept sentences


# ---------------------------------------------------------------------------
# splittable reader (read_warc_split): Hadoop byte-range split semantics
# ---------------------------------------------------------------------------

import io

from architxt_spark.sources.warc import (
    _range_records,
    _records_for_file,
    read_warc_split,
)


def _row_key(r):
    return (r.target_uri, r.warc_type, r.http_status, bytes(r.payload), r.text)


def test_read_warc_split_parity_many_splits(spark, tmp_path):
    """Byte-range splits (boundaries landing mid-header, mid-body, and
    mid-magic) produce exactly the per-file reader's rows, and the plan
    carves one partition per range."""
    recs = [
        {"warc_type": "response", "target_uri": f"http://s.example/{i}",
         "payload": HTML + (b"x%d" % i) * (i % 7)}
        for i in range(40)
    ]
    raw = build_warc(recs)
    (tmp_path / "big.warc").write_bytes(raw)

    whole = sorted(map(_row_key, read_warc(spark, str(tmp_path / "big.warc")).collect()))
    split_df = read_warc_split(spark, str(tmp_path / "big.warc"), split_bytes=1000)
    assert sorted(map(_row_key, split_df.collect())) == whole
    assert split_df.rdd.getNumPartitions() == -(-len(raw) // 1000)  # one task per range


def test_read_warc_split_overrun_and_false_magic(spark, tmp_path):
    """A record larger than split_bytes completes from the split owning
    its first byte; a payload containing the WARC/1.0 magic (but not a
    well-formed record) never becomes a phantom sync point."""
    recs = [
        {"warc_type": "response", "target_uri": "http://big/", "payload": b"A" * 5000},
        {"warc_type": "response", "target_uri": "http://trap/",
         "payload": b"pre " + b"WARC/1.0\r\nnot a header line\r\n\r\n" * 20 + b" post",
         "content_type": "application/octet-stream"},
        {"warc_type": "response", "target_uri": "http://tail/", "payload": HTML},
    ]
    raw = build_warc(recs)
    (tmp_path / "t.warc").write_bytes(raw)
    whole = sorted(map(_row_key, read_warc(spark, str(tmp_path / "t.warc")).collect()))
    got = sorted(map(_row_key, read_warc_split(
        spark, str(tmp_path / "t.warc"), split_bytes=512).collect()))
    assert got == whole and len(got) == 3


def test_split_after_embedded_record_keeps_later_records():
    """A payload that embeds a COMPLETE record: a split boundary inside the
    outer record syncs the next split onto the embedded "phantom" record,
    whose end is no record boundary.  That split resyncs instead of
    stopping, so every true record after it is still emitted — for every
    boundary position, exactly once, plus at most the phantom."""
    inner = build_warc([{"warc_type": "response", "target_uri": "phantom",
                         "payload": b"inner body"}])
    raw = build_warc([
        {"warc_type": "response", "target_uri": "r0", "payload": b"zero " * 20},
        {"warc_type": "response", "target_uri": "R",
         "payload": b"outer head " + inner + b" outer tail",
         "content_type": "application/octet-stream"},
        {"warc_type": "response", "target_uri": "r2", "payload": b"two"},
        {"warc_type": "response", "target_uri": "r3", "payload": b"three"},
    ])

    def splits(*cuts):
        bounds = [0, *cuts, len(raw)]
        return [
            [r["target_uri"] for r in _range_records(
                "f", a, b, (), False, lambda p: io.BytesIO(raw))]
            for a, b in zip(bounds, bounds[1:])
        ]

    assert splits(raw.index(inner) - 1) == [["r0", "R"], ["phantom", "r2", "r3"]]
    for cut in range(1, len(raw)):
        got = [uri for split in splits(cut) for uri in split]
        assert sorted(u for u in got if u != "phantom") == ["R", "r0", "r2", "r3"], cut
        assert got.count("phantom") <= 1, cut


def test_read_warc_split_gz_fallback(spark, tmp_path):
    """.warc.gz members get one full-file split; mixed directories work."""
    raw = build_warc(_records())
    (tmp_path / "a.warc").write_bytes(raw)
    (tmp_path / "b.warc.gz").write_bytes(gzip.compress(raw))
    df = read_warc_split(spark, str(tmp_path), split_bytes=200)
    rows = df.collect()
    assert len(rows) == 4  # 2 responses per file
    assert {r.path.split("/")[-1] for r in rows} == {"a.warc", "b.warc.gz"}


def _split_union(raw: bytes, split_bytes: int):
    """Driver-side harness: union of _range_records over consecutive
    byte ranges — the exact work the Spark tasks do."""
    out = []
    for off in range(0, max(len(raw), 1), split_bytes):
        out.extend(
            _range_records("f", off, min(off + split_bytes, len(raw)),
                           (), True, lambda p: io.BytesIO(raw))
        )
    return out


# ---------------------------------------------------------------------------
# property tests (driver-side parser invariants — no Spark session)
# ---------------------------------------------------------------------------

from hypothesis import given, settings, strategies as st

_payloads = st.binary(min_size=0, max_size=200)
_uris = st.text(
    alphabet=st.characters(min_codepoint=33, max_codepoint=126), max_size=40
).map(lambda s: "http://h/" + s.replace("\r", "").replace("\n", ""))
_record = st.fixed_dictionaries(
    {
        "warc_type": st.sampled_from(["response", "request", "metadata", "warcinfo"]),
        "target_uri": _uris,
        "payload": _payloads,
        "content_type": st.sampled_from(
            ["text/html", "text/plain", "application/octet-stream"]
        ),
    }
)


@settings(max_examples=50, deadline=None)
@given(records=st.lists(_record, max_size=8))
def test_warc_roundtrip_property(records):
    """build_warc → parse_warc preserves record count, order, type, URI,
    and (for responses) the exact payload through the HTTP split."""
    parsed = list(parse_warc(build_warc(records)))
    assert len(parsed) == len(records)
    for want, got in zip(records, parsed):
        assert got["warc_type"] == want["warc_type"]
        assert got["target_uri"] == want["target_uri"]
        if want["warc_type"] == "response":
            status, _, payload = split_http_response(got["body"])
            assert status == 200 and payload == want["payload"]
        else:
            assert got["body"] == want["payload"]


@settings(max_examples=50, deadline=None)
@given(records=st.lists(_record, max_size=6), split_bytes=st.integers(8, 600))
def test_warc_split_partition_invariance_property(records, split_bytes):
    """For ANY byte-range partition of the archive, the union over splits
    equals the sequential parse — record count, order-insensitive fields,
    and exact payload bytes (the Hadoop split contract)."""
    raw = build_warc(records)
    want = sorted(
        (r["target_uri"], r["warc_type"], bytes(r["payload"]))
        for r in _records_for_file("f", raw, (), True)
    )
    got = sorted(
        (r["target_uri"], r["warc_type"], bytes(r["payload"]))
        for r in _split_union(raw, split_bytes)
    )
    assert got == want


@settings(max_examples=50, deadline=None)
@given(data=st.binary(max_size=400))
def test_warc_parser_never_raises_property(data):
    """Arbitrary bytes (a corrupt archive) parse to a finite record list
    without raising — the crawl-ingestion robustness contract."""
    recs = list(parse_warc(data))
    assert isinstance(recs, list)


# ---------------------------------------------------------------------------
# r8: listing seam, partial-sidecar tiling, HTTP range opener
# ---------------------------------------------------------------------------


def test_member_ranges_tile_partial_sidecar():
    """_member_ranges covers [0, file_size) contiguously even when the
    sidecar indexes a subset of members (the real CommonCrawl CDX shape:
    response records only) — gaps bridge into the preceding range."""
    from architxt_spark.sources.warc import _member_ranges

    # members at 0/100/250/400, file ends at 500; sidecar lists 100 & 400
    ranges = _member_ranges([(100, 150), (400, 50)], 200, 500)
    assert ranges[0][0] == 0 and ranges[-1][1] == 500
    assert all(a[1] == b[0] for a, b in zip(ranges, ranges[1:]))  # contiguous
    # empty sidecar entries degenerate to one full-file range
    assert _member_ranges([], 200, 500) == [(0, 500)]
    # complete tiling sidecars split on the listed boundaries
    full = _member_ranges([(0, 100), (100, 100), (200, 100)], 100, 300)
    assert full == [(0, 100), (100, 200), (200, 300)]


def test_read_warc_split_partial_idx_still_byte_identical(spark, tmp_path):
    """A sidecar listing only SOME members (every third) must not drop
    the unindexed records: the split reader stays byte-identical to the
    per-file reader, closing the partial-CDX gap."""
    import gzip as _gzip

    member_blobs = [
        _gzip.compress(build_warc(
            [{"warc_type": "response", "target_uri": f"http://p/{i}",
              "payload": b"body-%d " % i * 30}]
        ))
        for i in range(9)
    ]
    (tmp_path / "part.warc.gz").write_bytes(b"".join(member_blobs))
    offs, pos = [], 0
    for m in member_blobs:
        offs.append((pos, len(m)))
        pos += len(m)
    # index every third member only (like a response-only CDX)
    (tmp_path / "part.warc.gz.idx").write_text(
        "\n".join(f"{o} {ln}" for i, (o, ln) in enumerate(offs) if i % 3 == 0)
    )
    whole = sorted(map(_row_key, read_warc(spark, str(tmp_path / "part.warc.gz")).collect()))
    split_df = read_warc_split(spark, str(tmp_path / "part.warc.gz"), split_bytes=pos // 3)
    got = sorted(map(_row_key, split_df.collect()))
    assert got == whole and len(got) == 9
    assert split_df.rdd.getNumPartitions() > 1


def test_list_warc_files_glob_recursive_and_lister(spark, tmp_path):
    """The listing seam: glob patterns, recursive directories, file:
    URIs through the Hadoop FileSystem, and the lister override."""
    from architxt_spark.sources.warc import _list_warc_files

    (tmp_path / "sub").mkdir()
    raw = build_warc(_records())
    (tmp_path / "a.warc").write_bytes(raw)
    (tmp_path / "sub" / "b.warc").write_bytes(raw)
    (tmp_path / "notes.txt").write_text("not an archive")

    # recursive directory listing (suffix-filtered)
    got = _list_warc_files(str(tmp_path), suffixes=(".warc",))
    assert [p.split(str(tmp_path))[-1] for p in got] == ["/a.warc", "/sub/b.warc"]
    # glob pattern
    got = _list_warc_files(str(tmp_path / "**" / "*.warc"))
    assert len(got) == 2
    # lister override wins
    got = _list_warc_files("ignored", lister=lambda p: ["x.warc", "a.warc"])
    assert got == ["a.warc", "x.warc"]
    # file:// URI routes through the Hadoop FileSystem and still reads
    df = read_warc(spark, "file://" + str(tmp_path / "sub"))
    assert df.count() == 2  # the two response records of b.warc
    # the split reader accepts the same URI form
    sdf = read_warc_split(spark, "file://" + str(tmp_path / "sub"), split_bytes=300)
    assert sdf.count() == 2


def test_read_warc_split_http_range_opener(spark, tmp_path):
    """read_warc_split over HTTP: parity with the local reader AND the
    design contract that each split task issues exactly ONE ranged GET
    (plus the driver's HEAD for sizing)."""
    import http.server
    import re as _re
    import threading

    from architxt_spark.sources.warc import http_opener

    recs = [
        {"warc_type": "response", "target_uri": f"http://h/{i}",
         "payload": HTML + (b"z%d" % i) * (i % 5)}
        for i in range(30)
    ]
    raw = build_warc(recs)
    log: list[tuple[str, str | None]] = []

    class Handler(http.server.BaseHTTPRequestHandler):
        def do_HEAD(self):
            self.send_response(200)
            self.send_header("Content-Length", str(len(raw)))
            self.end_headers()

        def do_GET(self):
            rng = self.headers.get("Range")
            log.append(("GET", rng))
            if rng:
                m = _re.match(r"bytes=(\d+)-(\d*)", rng)
                start = int(m.group(1))
                end = int(m.group(2)) if m.group(2) else len(raw) - 1
                if start >= len(raw):
                    self.send_response(416)
                    self.end_headers()
                    return
                chunk = raw[start:end + 1]
                self.send_response(206)
                self.send_header(
                    "Content-Range", f"bytes {start}-{start + len(chunk) - 1}/{len(raw)}"
                )
                self.send_header("Content-Length", str(len(chunk)))
                self.end_headers()
                try:
                    self.wfile.write(chunk)
                except BrokenPipeError:
                    pass
            else:
                self.send_response(200)
                self.send_header("Content-Length", str(len(raw)))
                self.end_headers()
                try:
                    self.wfile.write(raw)
                except BrokenPipeError:
                    pass

        def log_message(self, *a):  # quiet
            pass

    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        url = f"http://127.0.0.1:{srv.server_address[1]}/big.warc"
        split_bytes = 2000
        df = read_warc_split(spark, url, split_bytes=split_bytes, opener=http_opener)
        n_splits = df.rdd.getNumPartitions()
        assert n_splits == -(-len(raw) // split_bytes) > 1
        (tmp_path / "big.warc").write_bytes(raw)
        whole = sorted(map(_row_key, read_warc(spark, str(tmp_path / "big.warc")).collect()))
        assert sorted(map(_row_key, df.collect())) == whole
        ranged_gets = [e for e in log if e[1]]
        assert len(ranged_gets) == n_splits  # exactly one ranged GET per split
    finally:
        srv.shutdown()
        srv.server_close()


def test_http_range_file_range_ignoring_server(spark, tmp_path):
    """A server that ignores Range (stdlib SimpleHTTPRequestHandler, or a
    proxy that strips the header) returns 200 + full body; HttpRangeFile
    must stay position-correct by draining to pos instead of silently
    serving offset-0 bytes — read_warc_split output stays byte-identical
    to the local reader."""
    import functools
    import http.server
    import threading

    from architxt_spark.sources.warc import http_opener

    recs = [
        {"warc_type": "response", "target_uri": f"http://h/{i}",
         "payload": HTML + (b"q%d" % i) * (i % 7)}
        for i in range(12)
    ]
    raw = build_warc(recs)
    (tmp_path / "plain.warc").write_bytes(raw)

    class Handler(http.server.SimpleHTTPRequestHandler):  # no Range support
        def log_message(self, *a):
            pass

    srv = http.server.ThreadingHTTPServer(
        ("127.0.0.1", 0), functools.partial(Handler, directory=str(tmp_path))
    )
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        url = f"http://127.0.0.1:{srv.server_address[1]}/plain.warc"
        f = http_opener(url)
        assert f.size() == len(raw)
        f.seek(100)
        assert f.read(50) == raw[100:150]
        f.seek(len(raw) + 10)
        assert f.read(4) == b""  # past EOF reads like a file
        f.close()
        df = read_warc_split(spark, url, split_bytes=1500, opener=http_opener)
        whole = sorted(map(_row_key, read_warc(spark, str(tmp_path / "plain.warc")).collect()))
        assert sorted(map(_row_key, df.collect())) == whole
    finally:
        srv.shutdown()
        srv.server_close()


def test_list_warc_files_glob_matching_directories(tmp_path):
    """A glob whose matches are DIRECTORIES (crawls/* over per-crawl
    subdirs) descends them recursively — same semantics as _hadoop_ls's
    globStatus + recursive listFiles on scheme:// URIs."""
    from architxt_spark.sources.warc import _list_warc_files

    raw = build_warc(_records())
    for crawl in ("crawl-01", "crawl-02"):
        d = tmp_path / "crawls" / crawl / "segments"
        d.mkdir(parents=True)
        (d / "part.warc").write_bytes(raw)
    (tmp_path / "crawls" / "crawl-01" / "README.txt").write_text("x")

    got = _list_warc_files(str(tmp_path / "crawls" / "*"), suffixes=(".warc",))
    rel = [p.split(str(tmp_path))[-1] for p in got]
    assert rel == [
        "/crawls/crawl-01/segments/part.warc",
        "/crawls/crawl-02/segments/part.warc",
    ]
    # a glob mixing files and directories keeps both
    (tmp_path / "crawls" / "loose.warc").write_bytes(raw)
    got = _list_warc_files(str(tmp_path / "crawls" / "*"), suffixes=(".warc",))
    assert len(got) == 3


def test_http_range_file_size_fallbacks_and_range_ignored_warning(tmp_path):
    """Sizing against a server with no HEAD that also ignores Range
    (200, no Content-Range) falls back to the 200's Content-Length; a
    server exposing neither header raises a descriptive error instead of
    int(''). The Range-ignoring drain path warns once per URL."""
    import http.server
    import threading
    import warnings

    from architxt_spark.sources.warc import (
        _RANGE_IGNORED_WARNED,
        http_opener,
    )

    raw = build_warc(_records())
    mode = {"value": "full"}  # full | bare | 206-no-content-range

    class Handler(http.server.BaseHTTPRequestHandler):
        protocol_version = "HTTP/1.1"

        # no do_HEAD: HEAD returns 501 -> sizing falls to the Range probe
        def do_GET(self):
            if mode["value"] == "206-no-content-range":
                # noncompliant partial responder: honors the 1-byte Range
                # probe but omits Content-Range — its Content-Length (1)
                # must NOT be mistaken for the object size
                self.send_response(206)
                self.send_header("Content-Length", "1")
                self.end_headers()
                try:
                    self.wfile.write(raw[:1])
                except BrokenPipeError:
                    pass
                return
            # ignores Range entirely: 200, full body
            self.send_response(200)
            if mode["value"] == "bare":
                # no Content-Length either: close-delimited body
                self.send_header("Connection", "close")
                self.end_headers()
            else:
                self.send_header("Content-Length", str(len(raw)))
                self.end_headers()
            try:
                self.wfile.write(raw)
            except BrokenPipeError:
                pass

        def log_message(self, *a):
            pass

    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        url = f"http://127.0.0.1:{srv.server_address[1]}/f.warc"
        f = http_opener(url)
        assert f.size() == len(raw)  # Content-Length of the 200 fallback
        f.close()

        mode["value"] = "bare"
        f2 = http_opener(url)
        with pytest.raises(ValueError, match="neither Content-Range nor"):
            f2.size()
        f2.close()

        # a 206 lacking Content-Range must raise, not truncate size to
        # the probe's 1-byte Content-Length (silent split-planning bug)
        mode["value"] = "206-no-content-range"
        f206 = http_opener(url)
        with pytest.raises(ValueError, match="status 206"):
            f206.size()
        f206.close()
        mode["value"] = "full"

        # drain path: first non-zero-offset read against the
        # Range-ignoring server warns exactly once per URL
        _RANGE_IGNORED_WARNED.discard(url)
        f3 = http_opener(url)
        with warnings.catch_warnings(record=True) as caught:
            warnings.simplefilter("always")
            f3.seek(100)
            assert f3.read(20) == raw[100:120]
            f3.seek(300)
            assert f3.read(20) == raw[300:320]
        f3.close()
        hits = [w for w in caught if "ignores Range" in str(w.message)]
        assert len(hits) == 1
    finally:
        srv.shutdown()
        srv.server_close()


def test_read_warc_split_http_gz_cdx_end_to_end(spark, tmp_path):
    """The full remote CommonCrawl shape under real socket semantics: a
    multi-member .warc.gz with a PARTIAL CDX-style .idx sidecar served
    by a local Range-capable HTTP server, read through
    read_warc_split(opener=http_opener) — byte-identical to the local
    reader, >1 member-aligned splits, and exactly ONE ranged GET per
    split plus one sidecar fetch (the network-cost contract)."""
    import gzip as _gzip
    import http.server
    import re as _re
    import threading

    from architxt_spark.sources.warc import http_opener

    member_blobs = [
        _gzip.compress(build_warc(
            [{"warc_type": "response", "target_uri": f"http://cc/{i}",
              "payload": HTML + (b"m%d " % i) * (i * 3)}]
        ))
        for i in range(10)
    ]
    raw = b"".join(member_blobs)
    offs, pos = [], 0
    for m in member_blobs:
        offs.append((pos, len(m)))
        pos += len(m)
    # response-only partial CDX: every second member indexed
    idx = "\n".join(f"{o} {ln}" for i, (o, ln) in enumerate(offs) if i % 2 == 0)
    files = {"/cc.warc.gz": raw, "/cc.warc.gz.idx": idx.encode()}
    log: list[tuple[str, str | None]] = []

    class Handler(http.server.BaseHTTPRequestHandler):
        def _body(self):
            return files.get(self.path)

        def do_HEAD(self):
            body = self._body()
            if body is None:
                self.send_response(404)
                self.end_headers()
                return
            self.send_response(200)
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()

        def do_GET(self):
            body = self._body()
            if body is None:
                self.send_response(404)
                self.end_headers()
                return
            rng = self.headers.get("Range")
            log.append((self.path, rng))
            if rng:
                m = _re.match(r"bytes=(\d+)-(\d*)", rng)
                start = int(m.group(1))
                end = int(m.group(2)) if m.group(2) else len(body) - 1
                if start >= len(body):
                    self.send_response(416)
                    self.end_headers()
                    return
                chunk = body[start:end + 1]
                self.send_response(206)
                self.send_header(
                    "Content-Range",
                    f"bytes {start}-{start + len(chunk) - 1}/{len(body)}",
                )
                self.send_header("Content-Length", str(len(chunk)))
                self.end_headers()
                try:
                    self.wfile.write(chunk)
                except BrokenPipeError:
                    pass
            else:
                self.send_response(200)
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                try:
                    self.wfile.write(body)
                except BrokenPipeError:
                    pass

        def log_message(self, *a):
            pass

    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        url = f"http://127.0.0.1:{srv.server_address[1]}/cc.warc.gz"
        # member-aligned splits from the sidecar (not naive byte ranges)
        df = read_warc_split(spark, url, split_bytes=pos // 4, opener=http_opener)
        n_splits = df.rdd.getNumPartitions()
        assert n_splits > 1
        (tmp_path / "cc.warc.gz").write_bytes(raw)
        whole = sorted(map(_row_key, read_warc(spark, str(tmp_path / "cc.warc.gz")).collect()))
        got = sorted(map(_row_key, df.collect()))
        assert got == whole and len(got) == 10
        # network-cost contract: one GET for the sidecar + exactly one
        # ranged GET per split for the archive itself
        archive_gets = [e for e in log if e[0] == "/cc.warc.gz"]
        idx_gets = [e for e in log if e[0] == "/cc.warc.gz.idx"]
        assert len(idx_gets) == 1
        assert len(archive_gets) == n_splits
        assert all(rng for _, rng in archive_gets)  # every one ranged
    finally:
        srv.shutdown()
        srv.server_close()


# --- r14: digest verification ---


def test_warc_digest_verification_flags_corruption(spark, tmp_path):
    """verify_digests recomputes sha1 against WARC-Payload-Digest:
    intact records flag True, a tampered payload False, and a record
    with no digest header stays null — the corrupted-transfer screen a
    real crawl ingest needs."""
    from architxt_spark.sources.warc import build_warc, read_warc

    good = dict(warc_type="response", target_uri="http://a/", payload=b"<p>fine</p>")
    # digest computed over DIFFERENT bytes than the stored payload
    bad = dict(
        warc_type="response", target_uri="http://b/", payload=b"<p>tampered</p>",
        payload_digest="sha1:" + __import__("base64").b32encode(
            __import__("hashlib").sha1(b"<p>original</p>").digest()
        ).decode(),
    )
    plain = dict(warc_type="response", target_uri="http://c/", payload=b"<p>nodigest</p>")
    blob = build_warc([good], digests=True) + build_warc([bad]) + build_warc([plain])
    p = tmp_path / "d.warc"
    p.write_bytes(blob)

    df = read_warc(spark, str(p), verify_digests=True)
    got = {r.target_uri: r.digest_ok for r in df.collect()}
    assert got == {"http://a/": True, "http://b/": False, "http://c/": None}

    # default schema is unchanged (oracle compatibility)
    assert "digest_ok" not in read_warc(spark, str(p)).columns


def test_warc_digest_verification_split_reader(spark, tmp_path):
    from architxt_spark.sources.warc import build_warc, read_warc_split

    recs = [
        dict(warc_type="response", target_uri=f"http://s/{i}",
             payload=f"<p>page {i}</p>".encode())
        for i in range(20)
    ]
    p = tmp_path / "s.warc"
    p.write_bytes(build_warc(recs, digests=True))
    df = read_warc_split(spark, str(p), split_bytes=256, verify_digests=True)
    rows = df.collect()
    assert len(rows) == 20
    assert all(r.digest_ok for r in rows)


def test_warc_digest_header_decoding_variants():
    import hashlib

    from architxt_spark.sources.warc import _warc_digest

    raw = hashlib.sha1(b"x").digest()
    import base64

    assert _warc_digest("sha1:" + base64.b32encode(raw).decode()) == raw
    assert _warc_digest("sha1:" + raw.hex()) == raw  # hex accepted
    assert _warc_digest("md5:abcd") is None  # unknown algorithm
    assert _warc_digest("sha1:!!notbase32!!") is None
    assert _warc_digest("") is None
