"""WARC write → read round-trip: byte-exact html, lossless url/ts."""

import tempfile

from pyspark.sql import functions as F

from ferrobus_spark.sources.pages import pages_table
from ferrobus_spark.sources.warc import read_warc, write_warc


def test_warc_roundtrip(spark, sf_dir):
    pages = pages_table(spark, sf_dir).localCheckpoint()
    n_pages = pages.count()
    with tempfile.TemporaryDirectory() as d:
        written = write_warc(pages, d)
        assert written == n_pages
        back = read_warc(spark, d)
        assert back.count() == n_pages

        joined = pages.select(
            "url", F.col("html").alias("html_orig"),
            F.date_format("warc_ts", "yyyy-MM-dd'T'HH:mm:ss").alias("ts_orig"),
        ).join(
            back.select(
                "url", F.col("html").alias("html_rt"),
                F.date_format("warc_ts", "yyyy-MM-dd'T'HH:mm:ss").alias("ts_rt"),
            ),
            "url",
        )
        assert joined.count() == n_pages
        assert joined.filter("html_orig <> html_rt").count() == 0  # byte-exact
        assert joined.filter("ts_orig <> ts_rt").count() == 0


def test_warc_gzip_roundtrip(spark, sf_dir):
    """Common-Crawl layout: one gzip member per record, .warc.gz files."""
    import glob
    import os

    pages = pages_table(spark, sf_dir).localCheckpoint()
    n_pages = pages.count()
    with tempfile.TemporaryDirectory() as d:
        written = write_warc(pages, d, compress=True)
        assert written == n_pages
        files = glob.glob(os.path.join(d, "*.warc.gz"))
        assert files and not glob.glob(os.path.join(d, "*.warc"))
        # per-record members: the file must contain >1 gzip magic marker
        with open(files[0], "rb") as f:
            blob = f.read()
        assert blob.count(b"\x1f\x8b\x08") > 1
        back = read_warc(spark, d)
        assert back.count() == n_pages
        joined = pages.select("url", F.col("html").alias("a")).join(
            back.select("url", F.col("html").alias("b")), "url"
        )
        assert joined.count() == n_pages
        assert joined.filter("a <> b").count() == 0


def test_warc_record_headers(spark, sf_dir):
    """Records carry a WARC-Record-ID and exact Content-Length framing."""
    pages = pages_table(spark, sf_dir).limit(5).localCheckpoint()
    with tempfile.TemporaryDirectory() as d:
        write_warc(pages, d)
        import glob
        import os

        raw = b"".join(
            open(p, "rb").read() for p in glob.glob(os.path.join(d, "*.warc"))
        )
        assert raw.count(b"WARC-Record-ID: <urn:uuid:") == 5
        assert raw.count(b"WARC/1.0\r\n") == 5
        # UTC suffix is honest: dates end in Z
        assert raw.count(b"WARC-Date: ") == 5


def test_warc_extraction_invariant(spark, sf_dir):
    """The per-row invariant survives the WARC container: extracted text
    from round-tripped html is still byte-identical to the source text."""
    from ferrobus_spark.operators.html_text import parse_html

    pages = pages_table(spark, sf_dir).localCheckpoint()
    with tempfile.TemporaryDirectory() as d:
        write_warc(pages, d)
        back = read_warc(spark, d)
        extracted = parse_html(back, id_cols=("url",))
        joined = pages.select("url", "text").join(extracted, "url")
        assert joined.count() == pages.count()
        assert joined.filter("extracted_text <> text").count() == 0
