"""S3 bulk [%FIELD%] text reader tests (format per
``DanawaBulkTextIndexer.java:32,91-135``)."""

import datetime


def test_bulk_text_reader(spark, tmp_path):
    f = tmp_path / "bulk.txt"
    f.write_text(
        "[%PRODUCTNAME%]삼성 노트북[%MAKER%]삼성전자[%REGISTERDATE%]20240131\n"
        "[%PRODUCTNAME%]LG 모니터[%MAKER%][%REGISTERDATE%]20230501\n"
        "this line has no field headers and is skipped\n"
        "[%PRODUCTNAME%]가방만 있는 줄\n",
        encoding="utf-8",
    )
    from mecab_ko_lucene_analyzer_spark.sources.bulk_text import read_bulk_text

    df = read_bulk_text(
        spark, str(f), ["PRODUCTNAME", "MAKER", "REGISTERDATE"]
    )
    rows = {r["PRODUCTNAME"]: r for r in df.collect()}
    assert set(rows) == {"삼성 노트북", "LG 모니터", "가방만 있는 줄"}
    assert rows["삼성 노트북"]["MAKER"] == "삼성전자"
    assert rows["삼성 노트북"]["REGISTERDATE"] == datetime.date(2024, 1, 31)
    assert rows["LG 모니터"]["MAKER"] is None  # empty value → null
    assert rows["가방만 있는 줄"]["MAKER"] is None


# -- compiled binary dictionary images (S5 migration path, round 2) ---------


def test_tag_prob_binary_roundtrip():
    from mecab_ko_lucene_analyzer_spark.sources.binary_dicts import (
        read_tag_prob_dict,
        write_tag_prob_dict,
    )

    d = {
        "진달래": [("N", -2.5), ("V", -7.125)],
        "하": [("V", -1.0)],
        "ascii": [("N", 0.0)],
    }
    assert read_tag_prob_dict(write_tag_prob_dict(d)) == d


def test_set_binary_roundtrip():
    from mecab_ko_lucene_analyzer_spark.sources.binary_dicts import (
        read_set_dict,
        write_set_dict,
    )

    s = {"은", "는", "stopword", "불용어"}
    assert read_set_dict(write_set_dict(s)) == s


def test_map_binary_roundtrip():
    from mecab_ko_lucene_analyzer_spark.sources.binary_dicts import (
        read_map_dict,
        write_map_dict,
    )

    d = {"삼성": ["samsung", "쌤숭"], "엘지": ["lg"]}
    assert read_map_dict(write_map_dict(d)) == d


def test_binary_dict_wire_format_pinned():
    """Byte-level pin of the reference wire format (DataInput.java:109,
    121, 390): int = 4-byte BE; vint = 7-bit LE-continuation; ustring =
    vint byte count + UTF-16-BE units. A format drift fails here even
    if roundtrip still passes."""
    from mecab_ko_lucene_analyzer_spark.sources.binary_dicts import write_set_dict

    raw = write_set_dict({"아"})
    # int count=1, then vint byteSize=2, then U+C544 big-endian
    assert raw == b"\x00\x00\x00\x01" + b"\x02" + "아".encode("utf-16-be")


# -- S4: paged-HTTP migrator (round 2) ---------------------------------------


def _fake_legacy_api(n_rows=37, page=10):
    """A deterministic stand-in for the legacy engine's JSON endpoint."""

    def fetch(sn, ln):
        rows = [
            {"ID": str(i), "TITLE": f"doc-{i}\ttab", "BODY": f"본문 {i}\n줄"}
            for i in range(sn, min(sn + ln, n_rows))
        ]
        return {
            "total_count": n_rows,
            "fieldname_list": ["ID", "TITLE", "BODY"],
            "result": rows,
        }

    return fetch


def test_migrate_paged_fetches_all_pages(spark):
    from mecab_ko_lucene_analyzer_spark.sources.http_migrate import migrate_paged

    df = migrate_paged(spark, _fake_legacy_api(37, 10), length=10)
    rows = {r["ID"]: r for r in df.collect()}
    assert len(rows) == 37 and df.columns == ["ID", "TITLE", "BODY"]
    # control chars sanitized exactly like the reference ([\t\r\n\0] -> ' ')
    assert rows["3"]["TITLE"] == "doc-3 tab"
    assert rows["3"]["BODY"] == "본문 3 줄"


def test_migrate_single_page(spark):
    from mecab_ko_lucene_analyzer_spark.sources.http_migrate import migrate_paged

    df = migrate_paged(spark, _fake_legacy_api(5, 10), length=10)
    assert df.count() == 5


def test_migrate_to_bulk_text_roundtrip(spark, tmp_path):
    """Migrated rows → [%FIELD%] bulk file → S3 reader: end-to-end
    format compatibility with the reference's file path."""
    from mecab_ko_lucene_analyzer_spark.sources.bulk_text import read_bulk_text
    from mecab_ko_lucene_analyzer_spark.sources.http_migrate import (
        migrate_paged,
        to_bulk_text,
    )

    df = migrate_paged(spark, _fake_legacy_api(12, 5), length=5)
    out = str(tmp_path / "bulk")
    to_bulk_text(df).write.mode("overwrite").text(out)
    back = read_bulk_text(spark, out, ["ID", "TITLE", "BODY"])
    assert back.count() == 12
    got = {r["ID"] for r in back.select("ID").collect()}
    assert got == {str(i) for i in range(12)}


# --- table-format seam (catalog.py): Iceberg identifiers vs parquet paths ---


def test_catalog_identifier_detection(spark):
    from mecab_ko_lucene_analyzer_spark.sources.catalog import is_catalog_identifier

    assert is_catalog_identifier("iceberg.search.postings")
    assert is_catalog_identifier("cat.db.t")
    assert not is_catalog_identifier("/path/to/index")          # path
    assert not is_catalog_identifier("relative/dir.parquet")    # path sep
    assert not is_catalog_identifier("s3://bucket/key")         # URI scheme
    assert not is_catalog_identifier("postings")                # no namespace
    # dotted names that are really files must keep routing to parquet:
    # --input docs.parquet worked before the seam existed and still must
    assert not is_catalog_identifier("docs.parquet")            # file ext
    assert not is_catalog_identifier("index.out")               # file ext
    # session-aware routing: decided by the session's CONFIGURED
    # catalogs, never by probing the local filesystem (CWD-dependent —
    # a stray file named cat.db.table must not reroute a catalog write)
    assert not is_catalog_identifier("test_sources.py", spark)  # no such catalog
    assert not is_catalog_identifier("cat.db.t", spark)         # unconfigured cat
    assert is_catalog_identifier("spark_catalog.db.t", spark)   # built-in
    spark.conf.set("spark.sql.catalog.fakecat", "org.example.FakeCatalog")
    try:
        assert is_catalog_identifier("fakecat.db.t", spark)     # configured
    finally:
        spark.conf.unset("spark.sql.catalog.fakecat")
    assert not is_catalog_identifier("fakecat.db.t", spark)     # gone again
    # 2-part db.table under the session catalog: routes to the catalog
    # when the database exists there ('default.docs' must never become
    # a local parquet directory literally named "default.docs")
    assert is_catalog_identifier("default.docs", spark)
    assert not is_catalog_identifier("no_such_db.docs", spark)
    # a configured non-default defaultCatalog absorbs any dotted name
    spark.conf.set("spark.sql.catalog.icecat", "org.example.FakeCatalog")
    spark.conf.set("spark.sql.defaultCatalog", "icecat")
    try:
        assert is_catalog_identifier("db.t", spark)
        assert is_catalog_identifier("no_such_db.docs", spark)
    finally:
        spark.conf.set("spark.sql.defaultCatalog", "spark_catalog")
        spark.conf.unset("spark.sql.catalog.icecat")


def test_write_read_table_parquet_roundtrip(spark, tmp_path):
    from mecab_ko_lucene_analyzer_spark.sources.catalog import read_table, write_table

    df = spark.range(10).withColumnRenamed("id", "doc_id")
    target = str(tmp_path / "t")
    write_table(df, target)
    assert sorted(r.doc_id for r in read_table(spark, target).collect()) == list(range(10))
    write_table(df, target, mode="append")
    assert read_table(spark, target).count() == 20


def test_iceberg_unavailable_in_container(spark, tmp_path):
    """No iceberg-spark-runtime jar here: detection must say so and
    publish_index must refuse BEFORE writing (deployment-env test runs
    the真 branch; here the guard is the contract)."""
    import pytest

    from mecab_ko_lucene_analyzer_spark.sources.catalog import (
        iceberg_available,
        publish_index,
    )

    assert iceberg_available(spark) is False
    with pytest.raises(RuntimeError, match="Iceberg catalog"):
        publish_index(spark, str(tmp_path), "iceberg.search")


def test_publish_index_refuses_postingless_dir(spark, tmp_path, monkeypatch):
    """'partials' (the posting data) is a required index member: a
    directory without it is a truncated build, and publish_index must
    raise through the required-table read before writing anything, not
    publish a posting-less index."""
    import pytest
    from pyspark.errors import AnalysisException

    from mecab_ko_lucene_analyzer_spark.sources import catalog as cat_mod

    monkeypatch.setattr(cat_mod, "iceberg_available", lambda s: True)
    written = []
    monkeypatch.setattr(
        cat_mod, "write_table", lambda df, t, mode="overwrite": written.append(t)
    )
    # a directory with every other required table but no posting data
    for name in ("doc_map", "term_stats", "doc_stats", "corpus_stats", "blocks"):
        spark.range(3).toDF("doc_id").write.parquet(f"{tmp_path}/{name}")
    with pytest.raises(AnalysisException, match="partials"):
        cat_mod.publish_index(spark, str(tmp_path), "iceberg.search")
    assert written == []  # probed before ANY write

    # with partials present the same dir publishes fine
    spark.range(3).toDF("doc_id").write.parquet(f"{tmp_path}/partials")
    out = cat_mod.publish_index(spark, str(tmp_path), "iceberg.search")
    assert "iceberg.search.partials" in out and written == out


# -- HTML → text extraction (ingestion stage 0, north-rule html column) ------


def test_extract_html_text_rules(spark):
    """Script/style/comment blocks vanish (embedded '<' included),
    tags become word boundaries, the six named entities decode with
    &amp; last, whitespace collapses."""
    from mecab_ko_lucene_analyzer_spark.sources import extract_html_text

    cases = [
        (0, b'<html><head><style type="text/css">p { color: red; }</style>'
            b'<script>var x = 1 < 2 && "a&b";</script></head>'
            b"<body><!-- note --><p>hello  world</p></body></html>"),
        (1, b"<p>AT&amp;T &lt;b&gt;&nbsp;end &amp;lt; &#39;s &apos;t</p>"),
        (2, b"<SCRIPT>ignored</SCRIPT>visible<STYLE>x{}</STYLE>"),
        (3, b'<script src="x.js"></script>kept<!-- <script>y</script> -->tail'),
        (4, b"a<br>b\n\t c"),
        (5, b"no markup"),
    ]
    df = spark.createDataFrame(cases, "doc_id int, html binary")
    got = {r.doc_id: r.text for r in extract_html_text(df).collect()}
    assert got[0] == "hello world"
    assert got[1] == "AT&T <b> end &lt; 's 't"  # &amp;lt; stays literal
    assert got[2] == "visible"  # case-insensitive block removal
    assert got[3] == "kept tail"  # commented-out script still removed
    assert got[4] == "a b c"  # tag = word boundary, ws collapsed
    assert got[5] == "no markup"


def test_extract_html_text_byte_identical_invariant(spark):
    """The north rule's per-row invariant: extraction over the
    synthesized corpus reproduces the text column byte-identically for
    every url."""
    import pyspark.sql.functions as F

    from mecab_ko_lucene_analyzer_spark.sources import (
        extract_html_text,
        synthesize_webpages,
    )

    pages = synthesize_webpages(spark, 300)
    bad = (
        extract_html_text(pages, out="extracted")
        .filter(F.col("extracted") != F.col("text"))
        .count()
    )
    assert bad == 0


def test_extract_html_text_null_and_nonutf8(spark):
    """NULL html stays NULL text; the charset arg reaches decode."""
    from mecab_ko_lucene_analyzer_spark.sources import extract_html_text

    df = spark.createDataFrame(
        [(0, None), (1, "<p>유니코드</p>".encode("utf-16-le"))],
        "doc_id int, html binary",
    )
    got = {r.doc_id: r.text for r in extract_html_text(df, charset="UTF-16LE").collect()}
    assert got[0] is None
    assert got[1] == "유니코드"


def test_extract_html_text_malformed_utf8_never_throws(spark):
    """Crawl reality: mojibake bytes exist in every CC shard. The UTF-8
    extraction path must degrade to U+FFFD per Python's
    ``errors="replace"`` (the WARC transcoder's rendering) instead of
    aborting the job — Spark's strict ``decode`` throws
    MALFORMED_CHARACTER_CODING on the first bad page."""
    from mecab_ko_lucene_analyzer_spark.sources import extract_html_text

    cases = [
        (0, b"<p>ok \xff\xfe bad</p>"),        # stray UTF-16 BOM bytes mid-page
        (1, b"<p>caf\xc3</p>"),                # truncated multi-byte sequence
        (2, b"<p>\xed\xa0\x80 surrogate</p>"),  # CESU-8 surrogate half
        (3, "<p>가나다</p>".encode("utf-8")),     # valid stays exact
    ]
    df = spark.createDataFrame(cases, "doc_id int, html binary")
    got = {r.doc_id: r.text for r in extract_html_text(df).collect()}

    def py_extract(b: bytes) -> str:
        import re as _re

        s = b.decode("utf-8", errors="replace")
        return _re.sub(r"\s+", " ", _re.sub(r"<[^>]*>", " ", s)).strip()

    for i, b in cases:
        assert got[i] == py_extract(b), (i, got[i])


# -- WARC reader (Common-Crawl container format) ------------------------------


def _warc_record(wtype: str, uri: str | None, block: bytes) -> bytes:
    head = [b"WARC/1.0", f"WARC-Type: {wtype}".encode()]
    if uri:
        head.append(f"WARC-Target-URI: {uri}".encode())
    head.append(b"WARC-Date: 2026-02-03T04:05:06Z")
    head.append(b"Content-Length: " + str(len(block)).encode())
    return b"\r\n".join(head) + b"\r\n\r\n" + block + b"\r\n\r\n"


def _http_block(body: bytes, chunked: bool = False) -> bytes:
    if chunked:
        head = b"HTTP/1.1 200 OK\r\nTransfer-Encoding: chunked\r\n\r\n"
    else:
        head = b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n"
    return head + body


def _write_warc(path, records: bytes, gz: bool = False):
    import gzip as _gzip

    data = _gzip.compress(records) if gz else records
    path.write_bytes(data)


def test_read_warc_records(spark, tmp_path):
    """Only response records surface; url/ts/html come from the WARC +
    HTTP headers; chunked transfer-encoding is decoded."""
    import datetime

    from mecab_ko_lucene_analyzer_spark.sources import read_warc

    chunked_body = b"5\r\n<p>ab\r\n4\r\ncd</\r\n2\r\np>\r\n0\r\n\r\n"
    records = (
        _warc_record("warcinfo", None, b"software: test\r\n")
        + _warc_record("request", "https://a.kr/x", b"GET /x HTTP/1.1\r\n\r\n")
        + _warc_record(
            "response", "https://a.kr/x", _http_block(b"<html><body>hello page</body></html>")
        )
        + _warc_record(
            "response", "https://b.kr/y", _http_block(chunked_body, chunked=True)
        )
    )
    _write_warc(tmp_path / "f1.warc", records)
    _write_warc(tmp_path / "f2.warc.gz", records, gz=True)

    for name in ("f1.warc", "f2.warc.gz"):
        rows = {
            r.url: r
            for r in read_warc(spark, str(tmp_path / name)).collect()
        }
        assert set(rows) == {"https://a.kr/x", "https://b.kr/y"}, name
        assert rows["https://a.kr/x"].html == b"<html><body>hello page</body></html>"
        assert rows["https://b.kr/y"].html == b"<p>abcd</p>"  # de-chunked
        assert rows["https://a.kr/x"].warc_ts == datetime.datetime(
            2026, 2, 3, 4, 5, 6
        )

    # glob over the directory picks up both archives
    all_rows = read_warc(spark, str(tmp_path / "*.warc*")).count()
    assert all_rows == 4


def test_warc_to_webpages_composes_extraction_and_lang(spark, tmp_path):
    from mecab_ko_lucene_analyzer_spark.sources import warc_to_webpages

    records = _warc_record(
        "response",
        "https://ko.example/p",
        _http_block("<html><body>한국어 문서 분석</body></html>".encode()),
    ) + _warc_record(
        "response",
        "https://en.example/p",
        _http_block(b"<html><body>the cat sat of the mat in it</body></html>"),
    )
    _write_warc(tmp_path / "pages.warc", records)
    rows = {
        r.url: r
        for r in warc_to_webpages(spark, str(tmp_path / "pages.warc")).collect()
    }
    assert rows["https://ko.example/p"].text == "한국어 문서 분석"
    assert rows["https://ko.example/p"].lang == "ko"
    assert rows["https://en.example/p"].lang == "en"
    assert set(rows["https://ko.example/p"].asDict()) == {
        "url", "warc_ts", "html", "text", "lang",
    }


def test_read_warc_missing_glob_raises(spark, tmp_path):
    import pytest as _pytest

    from mecab_ko_lucene_analyzer_spark.sources import read_warc

    with _pytest.raises(FileNotFoundError):
        read_warc(spark, str(tmp_path / "nope-*.warc"))


# -- charset detection / transcoding (legacy Korean web) ----------------------


def test_charset_of_matrix_and_python_twin(spark):
    """Catalyst detector over a byte matrix covering every branch —
    BOM priority, both meta forms, alias normalization, unknown-label
    fallback — pinned byte-for-byte against the Python twin the WARC
    pass uses (no transport signal on either side)."""
    from mecab_ko_lucene_analyzer_spark.sources import (
        charset_of,
        detect_charset_bytes,
    )

    cases = [
        ('<html><meta charset="EUC-KR"><body>x</body></html>'.encode(), "euc-kr"),
        (
            b'<meta http-equiv="Content-Type" content="text/html; CHARSET=ks_c_5601-1987">',
            "euc-kr",
        ),
        (b"<meta charset=utf-8>", "utf-8"),
        (b"<html><body>no declaration</body></html>", "utf-8"),
        (b'<meta charset="x-klingon">', "utf-8"),  # unknown -> default
        (b'\xef\xbb\xbf<meta charset="cp949">', "utf-8"),  # BOM outranks meta
        (b'\xff\xfe<meta charset="euc-kr">', "utf-16le"),
        (b"\xfe\xff\x00h", "utf-16be"),
        (b"<META CHARSET='MS949'>", "cp949"),
        # meta sniff over non-UTF-8 bytes (ASCII-compatible view)
        ("한국어 <meta charset='latin1'>".encode("euc-kr"), "iso-8859-1"),
    ]
    df = spark.createDataFrame(
        [(i, b) for i, (b, _) in enumerate(cases)], "i int, html binary"
    )
    got = {r.i: r.cs for r in df.select("i", charset_of("html").alias("cs")).collect()}
    for i, (b, want) in enumerate(cases):
        assert got[i] == want, (i, got[i], want)
        assert detect_charset_bytes(b) == want, i


def test_detect_charset_priority_and_transcode():
    from mecab_ko_lucene_analyzer_spark.sources import (
        detect_charset_bytes,
        transcode_to_utf8,
    )

    body = b'<meta charset="utf-8">hello'
    # transport outranks meta; BOM outranks transport; unknown
    # transport labels fall through to the meta scan
    assert detect_charset_bytes(body, "text/html; charset=euc-kr") == "euc-kr"
    assert detect_charset_bytes(body, "text/html") == "utf-8"
    assert (
        detect_charset_bytes(b"\xef\xbb\xbf" + body, "text/html; charset=euc-kr")
        == "utf-8"
    )
    assert (
        detect_charset_bytes(b'<meta charset="euc-kr">', "text/html; charset=bogus")
        == "euc-kr"
    )

    ko = "한국어 검색 엔진"
    b, cs = transcode_to_utf8(
        f"<html><body>{ko}</body></html>".encode("euc-kr"),
        "text/html; charset=euc-kr",
    )
    assert cs == "euc-kr" and ko.encode() in b
    # cp949-only syllable (뷁 is outside strict KS X 1001)
    b, cs = transcode_to_utf8('<meta charset="cp949">뷁'.encode("cp949"))
    assert cs == "cp949" and "뷁".encode() in b
    # utf-8 BOM stripped, bytes otherwise untouched
    assert transcode_to_utf8(b"\xef\xbb\xbfplain") == (b"plain", "utf-8")
    # utf-16 with LE BOM: decoded, BOM char stripped
    b, cs = transcode_to_utf8("x".encode("utf-16"))
    assert cs == "utf-16le" and b == b"x"
    # malformed bytes under a declared charset never throw
    b, cs = transcode_to_utf8(b"\x81\x41\xff\xff ok", "text/html; charset=euc-kr")
    assert cs == "euc-kr" and b.endswith(b" ok")


def test_warc_legacy_korean_end_to_end(spark, tmp_path):
    """EUC-KR (HTTP-header charset) and CP949 (meta-only) legacy pages
    flow through warc_to_webpages with correct text + lang; read_warc
    exposes the detected charset for lineage."""
    from mecab_ko_lucene_analyzer_spark.sources import read_warc, warc_to_webpages

    ko1, ko2 = "한국어 문서 분석", "검색 엔진 데이터"
    rec = _warc_record(
        "response",
        "https://old.kr/a",
        b"HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=euc-kr\r\n\r\n"
        + f"<html><body>{ko1}</body></html>".encode("euc-kr"),
    ) + _warc_record(
        "response",
        "https://old.kr/b",
        b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n"
        + f'<html><head><meta charset="cp949"></head><body>{ko2}</body></html>'.encode(
            "cp949"
        ),
    )
    (tmp_path / "legacy.warc").write_bytes(rec)
    rows = {
        r.url: r
        for r in warc_to_webpages(spark, str(tmp_path / "legacy.warc")).collect()
    }
    assert rows["https://old.kr/a"].text == ko1
    assert rows["https://old.kr/b"].text == ko2
    assert rows["https://old.kr/a"].lang == "ko"
    info = {
        r.url: r.charset
        for r in read_warc(spark, str(tmp_path / "legacy.warc")).collect()
    }
    assert info == {"https://old.kr/a": "euc-kr", "https://old.kr/b": "cp949"}


def test_noindex_of_matrix(spark):
    """Robots-meta exclusion over both attribute orders, quote styles,
    case, non-robots tags carrying 'noindex', and cross-tag
    non-matches ([^>]* cannot bridge tags)."""
    from mecab_ko_lucene_analyzer_spark.sources import noindex_of

    cases = [
        (b'<meta name="robots" content="noindex, nofollow">', True),
        (b"<meta content='NOINDEX' name=robots>", True),
        (b"<META NAME=ROBOTS CONTENT=NOINDEX>", True),
        (b'<meta name="robots" content="index, follow">', False),
        (b"<html><body>plain page</body></html>", False),
        # noindex in a different tag never marks the page
        (b'<meta name="description" content="noindex talk">', False),
        (b'<meta name="keywords" content="noindex"><meta name="robots" content="index">', False),
        # a real robots-noindex later in the head still matches
        (b'<meta name="author" content="x"><meta name="robots" content="noarchive,noindex">', True),
        # googlebot-specific tag is NOT name=robots (documented bound)
        (b'<meta name="googlebot" content="noindex">', False),
        # NULL html: no bytes, no directive — must be False, not NULL
        # (a NULL would silently drop the row through filter(~...))
        (None, False),
    ]
    df = spark.createDataFrame(
        [
            (
                i,
                None
                if b is None
                else b"<html><head>" + b + b"</head><body>x</body></html>",
            )
            for i, (b, _) in enumerate(cases)
        ],
        "i int, html binary",
    )
    got = {r.i: r.ni for r in df.select("i", noindex_of("html").alias("ni")).collect()}
    for i, (_, want) in enumerate(cases):
        assert got[i] is want, (i, got[i], want)


def test_build_index_respect_noindex_cli(spark, tmp_path, monkeypatch):
    """--respect-noindex drops flagged pages before the analysis chain:
    the built index's doc_map never contains them."""
    import json as _json
    import sys

    import pyspark.sql.functions as F

    from jobs.build_index import main as build_main
    from mecab_ko_lucene_analyzer_spark.sources import synthesize_webpages

    pages = synthesize_webpages(spark, 30)
    flagged = pages.withColumn(
        "html",
        F.when(
            F.col("url").rlike("3[.]kr/page$"),  # docs 3, 13, 23 (all ko)
            F.concat(
                F.lit(b'<html><head><meta name="robots" content="noindex"></head><body>'),
                F.encode("text", "utf-8"),
                F.lit(b"</body></html>"),
            ),
        ).otherwise(F.col("html")),
    )
    n_flagged = flagged.filter(
        F.decode("html", "ISO-8859-1").contains('name="robots"')
    ).count()
    assert n_flagged == 3
    src = str(tmp_path / "pages")
    flagged.write.parquet(src)
    out = str(tmp_path / "idx")
    monkeypatch.setattr(
        sys, "argv",
        ["build_index", "--input", src, "--output", out, "--respect-noindex"],
    )
    monkeypatch.setattr(
        "mecab_ko_lucene_analyzer_spark.plans.get_spark", lambda **kw: spark
    )
    monkeypatch.setattr(spark, "stop", lambda: None)
    build_main()
    docs = spark.read.parquet(f"{out}/doc_map")
    urls = [r.url for r in docs.collect()]
    assert urls and not any(u.endswith("3.kr/page") for u in urls)
    # 30 pages - 3 noindex - 1 non-ko (the CLI's default --lang ko)
    assert docs.count() == 26


def test_warc_respect_noindex(spark, tmp_path):
    """Both robots exclusion channels on the WARC path: the
    X-Robots-Tag header (transport) and the robots meta tag. Default
    keeps everything; respect_noindex drops both flavors."""
    from mecab_ko_lucene_analyzer_spark.sources import read_warc, warc_to_webpages

    recs = (
        _warc_record(
            "response", "https://a.kr/ok",
            _http_block(b"<html><body>fine page</body></html>"),
        )
        + _warc_record(
            "response", "https://a.kr/hdr",
            b"HTTP/1.1 200 OK\r\nX-Robots-Tag: noindex, nofollow\r\n\r\n"
            b"<html><body>hidden</body></html>",
        )
        + _warc_record(
            "response", "https://a.kr/meta",
            _http_block(
                b'<html><head><meta name="robots" content="noindex"></head>'
                b"<body>hidden too</body></html>"
            ),
        )
    )
    (tmp_path / "r.warc").write_bytes(recs)
    path = str(tmp_path / "r.warc")
    assert warc_to_webpages(spark, path).count() == 3  # default: keep all
    kept = warc_to_webpages(spark, path, respect_noindex=True)
    assert [r.url for r in kept.collect()] == ["https://a.kr/ok"]
    hdr = {r.url: r.hdr_noindex for r in read_warc(spark, path).collect()}
    assert hdr == {
        "https://a.kr/ok": False,
        "https://a.kr/hdr": True,
        "https://a.kr/meta": False,  # meta channel is noindex_of, not this flag
    }
