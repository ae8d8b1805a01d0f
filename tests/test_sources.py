"""Source-connector tests: reference-format metadata CSV (with
Python-repr nested cells), URL lists, JSON dirs, crawl transforms
with injected transport, PDF extraction with injected extractor."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from vnavc_spark.sources import crawl, metadata, pdf

BOOK_CSV = """id,name,text_path,audio_path,narrator,duration,author,text_url,audio_url,alignment_path,text_download_url,audio_download_url,sample_rate,quality,word_count,num_sentences,audio_size,text_size
ab12cd34,chut-phan-linh-đinh,,,"[{'id': 'n1', 'name': 'Ngọc Lan', 'url': 'http://n/1'}, {'id': 'n2', 'name': 'Hà'}]",04:30:00,Tác Giả A,http://t/1,http://a/1,,http://t/1.pdf,"['http://a/1_1.mp3', 'http://a/1_2.mp3']",24000,good,1000,50,12345,678
ef56ab78,sach-hai,,,'Bare Name',45:30,Tác Giả B,http://t/2,http://a/2/tvshows/x,,http://t/2.pdf,http://a/2_1.mp3,8000,,,,,
"""


@pytest.fixture(scope="module")
def books_csv(tmp_path_factory):
    p = tmp_path_factory.mktemp("meta") / "metadata_book.csv"
    p.write_text(BOOK_CSV, encoding="utf-8")
    return str(p)


class TestMetadataCsv:
    def test_nested_repair_and_types(self, spark, books_csv):
        df = metadata.read_books_csv(spark, books_csv)
        rows = {r.id: r for r in df.collect()}
        b1 = rows["ab12cd34"]
        # R2: repr list-of-dict → real array<struct>
        assert [n.id for n in b1.narrator] == ["n1", "n2"]
        assert b1.narrator[0].name == "Ngọc Lan"
        # list cell → array<string>
        assert b1.audio_download_url == [
            "http://a/1_1.mp3",
            "http://a/1_2.mp3",
        ]
        # T2: duration "04:30:00" → 4.5 h
        assert b1.duration_hours == pytest.approx(4.5)
        assert b1.sample_rate == 24000 and b1.audio_size == 12345
        b2 = rows["ef56ab78"]
        # bare-string narrator → one struct with empty url
        assert b2.narrator[0].name == "Bare Name" and b2.narrator[0].url == ""
        # bare URL → one-element array; "45:30" → MM:SS
        assert b2.audio_download_url == ["http://a/2_1.mp3"]
        # reference rounds minutes/hours to 4 decimals
        assert b2.duration_hours == pytest.approx(0.7583)

    def test_query_download_url(self, spark, books_csv):
        df = metadata.read_books_csv(spark, books_csv)
        # F3 conjunctive: narrator substring, case-insensitive
        out = metadata.query_download_url(df, narrator="ngọc").collect()
        assert [r.id for r in out] == ["ab12cd34"]
        # "all" bypass → both rows (both have download urls)
        assert len(metadata.query_download_url(df, name="all").collect()) == 2
        # miss → empty
        assert metadata.query_download_url(df, author="zzz").count() == 0

    def test_url_list_roundtrip(self, spark, tmp_path):
        p = tmp_path / "valid_book_urls.txt"
        p.write_text("http://a/1,http://t/1,src1\nhttp://a/2,http://t/2,invalid\n")
        df = metadata.read_url_list(spark, str(p))
        assert df.count() == 2
        assert df.filter(F.col("source") == "invalid").count() == 1


# module-level so cloudpickle ships it by value into executors
# (a bound test-class method would serialize by module reference,
# and executors can't import the tests package)
def fake_transport(url: str) -> crawl.TransportResult:
    if "cat" in url and "page" not in url:
        return crawl.TransportResult(
            200,
            'Trang 1 trong 3 <div class="poster"><a href="http://b/1">x</a>'
            '<a href="http://b/2">y</a></div>',
        )
    if "page" in url:
        n = url.split("=")[-1]
        return crawl.TransportResult(
            200,
            f'<div class="poster"><a href="http://b/p{n}">x</a></div>',
        )
    if url.endswith("404"):
        return crawl.TransportResult(404, "")
    return crawl.TransportResult(200, "ok")


class TestCrawl:
    def test_fetch_and_validate(self, spark):
        urls = spark.createDataFrame(
            [("http://x/1",), ("http://x/404",)], ["url"]
        )
        fetched = {r.url: r for r in crawl.fetch_pages(urls, fake_transport).collect()}
        assert fetched["http://x/1"].status == 200
        v = {r.url: r.valid for r in crawl.validate_urls(urls, fake_transport).collect()}
        # S5 fixed semantics: status < 400 ⇒ valid
        assert v == {"http://x/1": True, "http://x/404": False}

    def test_discover_book_urls(self, spark):
        out = crawl.discover_book_urls(
            spark, ["http://site/cat1"], fake_transport
        ).collect()
        urls = {r.book_url for r in out}
        # 3 pages discovered from "Trang 1 trong 3"
        assert urls == {"http://b/p1", "http://b/p2", "http://b/p3"}

    def test_scrape_part_urls(self, spark):
        def t(url):
            return crawl.TransportResult(200, "", urls=[f"{url}/1.mp3", f"{url}/2.mp3"])

        pages = spark.createDataFrame([("http://b/1",)], ["url"])
        r = crawl.scrape_part_urls(pages, t).first()
        assert r.audio_download_url == ["http://b/1/1.mp3", "http://b/1/2.mp3"]

    def test_download_files(self, spark, tmp_path):
        def fetch(url, dest):
            if url.endswith("bad"):
                return 0, "boom"
            with open(dest, "wb") as fh:
                fh.write(b"data")
            return 4, None

        urls = spark.createDataFrame(
            [
                ("http://x/ok", str(tmp_path / "ok.mp3")),
                ("http://x/bad", str(tmp_path / "bad.mp3")),
            ],
            ["url", "dest_path"],
        )
        res = {r.url: r for r in crawl.download_files(urls, fetch).collect()}
        assert res["http://x/ok"].ok and res["http://x/ok"].nbytes == 4
        assert not res["http://x/bad"].ok and res["http://x/bad"].error == "boom"
        assert (tmp_path / "ok.mp3").read_bytes() == b"data"

    def test_extract_hrefs_scoped(self):
        html = (
            '<div class="nav"><a href="http://no">n</a></div>'
            '<div class="poster x"><a href="http://yes/1">a</a></div>'
        )
        assert crawl.extract_hrefs(html) == ["http://yes/1"]


class TestPdf:
    def test_scan_and_extract_with_injected_extractor(self, spark, tmp_path):
        (tmp_path / "book1.pdf").write_bytes(b"%PDF-fake-1")
        (tmp_path / "book2.pdf").write_bytes(b"%PDF-fake-22")
        (tmp_path / "notes.txt").write_text("skip me")
        scanned = pdf.scan_pdfs(spark, str(tmp_path))
        assert scanned.count() == 2  # glob pushdown excluded .txt
        out = pdf.extract_text(
            scanned, extractor=lambda b: f"text({len(b)})"
        ).collect()
        by_book = {r.book_id: r for r in out}
        assert by_book["book1"].raw_text == "text(11)"
        assert by_book["book2"].n_pdf_bytes == 12

    def test_default_extractor_falls_back_to_pure_parser(self):
        # no pymupdf in this container -> the stdlib parser handles it
        # (returns what it can find; empty for a text-free document)
        assert pdf.default_pdf_extractor(b"%PDF") == ""


def _mini_pdf(content: bytes, compress: bool = False) -> bytes:
    """Hand-rolled single-page PDF with the given content stream."""
    import zlib as _z

    body, filt = (content, b"")
    if compress:
        body, filt = _z.compress(content), b"/Filter /FlateDecode "
    stream_obj = (
        b"4 0 obj\n<< " + filt + b"/Length " + str(len(body)).encode()
        + b" >>\nstream\n" + body + b"\nendstream\nendobj\n"
    )
    return (
        b"%PDF-1.4\n"
        b"1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"
        b"2 0 obj\n<< /Type /Pages /Kids [3 0 R] /Count 1 >>\nendobj\n"
        b"3 0 obj\n<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>\nendobj\n"
        + stream_obj
        + b"trailer\n<< /Root 1 0 R >>\n%%EOF\n"
    )


class TestPurePdfExtractor:
    CONTENT = (
        b"BT /F1 12 Tf 72 720 Td (Hello Spark) Tj 0 -14 Td "
        b"[(Xin ch) -30 (ao)] TJ T* (dong ba) Tj ET"
    )

    def test_uncompressed_stream(self):
        from vnavc_spark.sources.pdf import extract_pdf_text_pure

        txt = extract_pdf_text_pure(_mini_pdf(self.CONTENT))
        assert "Hello Spark" in txt
        assert "Xin chao" in txt       # TJ array: kerning numbers dropped
        assert "dong ba" in txt
        # line moves became newlines
        assert txt.index("Hello Spark") < txt.index("Xin chao")
        assert "\n" in txt

    def test_flate_stream(self):
        from vnavc_spark.sources.pdf import extract_pdf_text_pure

        txt = extract_pdf_text_pure(_mini_pdf(self.CONTENT, compress=True))
        assert "Hello Spark" in txt and "dong ba" in txt

    def test_flate_body_ending_in_eol_byte(self):
        """A compressed body whose own last byte is CR or LF (the
        adler32 trailer hits 0x0A/0x0D about 1 stream in 128) must
        still inflate: only the EOL before ``endstream`` is framing."""
        import random
        import zlib

        from vnavc_spark.sources.pdf import extract_pdf_text_pure

        rng = random.Random(0)
        for _ in range(10_000):
            word = "".join(
                rng.choices("abcdefghijklmnopqrstuvwxyz", k=rng.randint(4, 40))
            )
            content = b"BT (" + word.encode() + b") Tj ET"
            if zlib.compress(content)[-1:] in (b"\n", b"\r"):
                break
        else:
            raise AssertionError("no CR/LF-terminated stream found")
        txt = extract_pdf_text_pure(_mini_pdf(content, compress=True))
        assert txt == word

    def test_escapes_and_hex(self):
        from vnavc_spark.sources.pdf import extract_pdf_text_pure

        content = (
            b"BT (paren \\( ok \\)) Tj T* (tab\\there) Tj T* "
            b"(oct \\101\\102) Tj T* <48656C6C6F> Tj ET"
        )
        txt = extract_pdf_text_pure(_mini_pdf(content))
        assert "paren ( ok )" in txt
        assert "tab\there" in txt
        assert "oct AB" in txt
        assert "Hello" in txt

    def test_no_text_and_garbage(self):
        from vnavc_spark.sources.pdf import extract_pdf_text_pure

        assert extract_pdf_text_pure(b"not a pdf at all") == ""
        assert extract_pdf_text_pure(_mini_pdf(b"0 0 100 100 re f")) == ""

    def test_end_to_end_spark_stage(self, spark, tmp_path):
        from vnavc_spark.sources.pdf import extract_text, scan_pdfs

        (tmp_path / "mybook_1.pdf").write_bytes(
            _mini_pdf(self.CONTENT, compress=True)
        )
        pdfs = scan_pdfs(spark, str(tmp_path))
        out = extract_text(pdfs).collect()  # default extractor: pure path
        assert len(out) == 1
        assert out[0].book_id == "mybook_1"
        assert "Hello Spark" in out[0].raw_text
