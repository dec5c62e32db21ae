"""Sink round-trips (S3/S5/S6/S7): write with our sinks, read back with
our scans, value-identical."""

from __future__ import annotations

import json

import pytest

from pyspark.sql import functions as F

from automated_dow30_earnings_reports_spark.sources.csv_sources import (
    read_companies,
    write_csv,
    write_excel,
)
from automated_dow30_earnings_reports_spark.sources.json_ledger import (
    read_ledger,
    write_ledger,
)
from automated_dow30_earnings_reports_spark.sources.kv_text import (
    parse_kv_lines,
    to_kv_lines,
    write_document_links,
)


def test_csv_roundtrip_with_quoted_commas(spark, tmp_path):
    rows = [
        ("MMM", "3M", "Industrials", "https://investors.3m.com", None),
        ("TRV", "Travelers Companies, Inc.", None, "https://investor.travelers.com", None),
    ]
    df = spark.createDataFrame(
        rows, "ticker string, company string, sector string, ir_url string, last_updated timestamp"
    )
    out = str(tmp_path / "companies_csv")
    write_csv(df.toDF("Ticker", "Company", "Sector", "Investor_Relations_URL", "Last_Updated"), out)
    back = read_companies(spark, out)
    assert {tuple(r) for r in back.collect()} == set(rows)
    # the comma inside quotes survived (ref dow30_companies.csv:27)
    assert back.filter(F.col("company") == "Travelers Companies, Inc.").count() == 1


def test_excel_sink_gated(spark, tmp_path):
    df = spark.createDataFrame([("MMM", "3M")], ["ticker", "company"])
    ok = write_excel(df, str(tmp_path / "dims.xlsx"))
    assert ok in (True, False)  # False only when no xlsx engine installed
    if ok:
        assert (tmp_path / "dims.xlsx").exists()


def _run_ledger(tmp_path) -> str:
    """A run ledger in the reference's layout: one pretty-printed
    ``company_run_metadata`` document per file (FIXTURES.md §B), with the
    string year/quarter of ``downloaded_files``, a failed run with no
    files, and a nullable checksum. Returns a glob over the documents."""
    runs = [
        ("Apple", "AAPL", "completed", None, 14, [("2025", "3"), ("2025", "2")]),
        ("Travelers Companies, Inc.", "TRV", "completed", None, 9, [("2024", "4")]),
        ("Boeing", "BA", "failed", "timeout after 3 retries", 2, []),
    ]
    d = tmp_path / "metadata"
    d.mkdir()
    for company, ticker, status, error, found, files in runs:
        doc = {
            "company": company,
            "ticker": ticker,
            "ir_url": f"https://investors.{ticker.lower()}.com",
            "pipeline_start_time": "2025-10-10T14:20:01",
            "pipeline_end_time": "2025-10-10T14:28:49",
            "status": status,
            "error_message": error,
            "scraping_start_time": "2025-10-10T14:20:02",
            "scraping_end_time": "2025-10-10T14:23:40",
            "urls_visited": found + 3,
            "urls_found": found,
            "extraction_start_time": None,
            "extraction_end_time": None,
            "model_used": None,
            "download_start_time": "2025-10-10T14:25:00",
            "download_end_time": "2025-10-10T14:28:48",
            "downloaded_files": [
                {
                    "title": f"{ticker} Q{q} {y} Earnings Release",
                    "size": 100_000 * i + 2_048,
                    "checksum": None if i else "0cc175b9c0f1b6a831c399e269772661",
                    "quarter": q,
                    "year": y,
                    "url": f"https://investors.{ticker.lower()}.com/q{q}-{y}.pdf",
                    "download_timestamp": "2025-10-10T14:26:11",
                    "source_page": f"https://investors.{ticker.lower()}.com",
                    "file_type": "pdf",
                }
                for i, (y, q) in enumerate(files)
            ],
        }
        (d / f"metadata_{ticker}_20251010_142849.json").write_text(
            json.dumps(doc, indent=2)
        )
    return str(d / "*.json")


def test_ledger_json_roundtrip(spark, tmp_path):
    src = read_ledger(spark, _run_ledger(tmp_path))
    out = str(tmp_path / "ledger_json")
    write_ledger(src, out)
    # write_ledger emits line-delimited JSON — read back in JSONL mode
    # (multiline=True would silently keep only one record per file).
    back = read_ledger(spark, out, multiline=False)
    assert back.count() == src.count()
    a = src.select("company", "urls_found", F.size("downloaded_files").alias("nf"))
    b = back.select("company", "urls_found", F.size("downloaded_files").alias("nf"))
    assert {tuple(r) for r in a.collect()} == {tuple(r) for r in b.collect()}


def test_links_text_sink_roundtrip(spark, tmp_path):
    df = spark.createDataFrame(
        [
            # NB: values may not contain single quotes — the key='value'
            # line format is unescaped, a limitation inherited from the
            # reference's serializer (orchestrator.py:77-81). Real HTML
            # attrs use double quotes (see golden files).
            ("https://x.com/a.pdf", "PDF", "Q1", "document", "pdf", "PDF Document",
             "https://x.com", '<a href="x">y</a>'),
        ],
        "href string, text string, title string, link_type string, file_extension string,"
        "document_type string, source_url string, full_html string",
    )
    out = str(tmp_path / "links_txt")
    write_document_links(df, out)
    raw = spark.read.text(out)
    # serialized with the reference's keys (url=/type=)
    line = raw.collect()[0].value
    assert line.startswith("url='https://x.com/a.pdf'") and " type='document'" in line
    assert " link_type='" not in line
    back = parse_kv_lines(raw)
    assert {tuple(r) for r in back.collect()} == {tuple(r) for r in df.collect()}


def test_orc_roundtrip_documents(spark, tmp_path):
    # ORC is the third columnar format the engine round-trips (with
    # parquet and the reference's CSV/JSON/text); schema and values
    # must survive unchanged.
    from automated_dow30_earnings_reports_spark.tables import load_table

    src = load_table(spark, "/root/testdata/sf0.001", "documents")
    out = str(tmp_path / "docs_orc")
    src.write.mode("overwrite").orc(out)
    back = spark.read.orc(out)
    assert back.schema == src.schema
    assert back.count() == src.count()
    a = {r.doc_id: r.n_chars for r in src.select("doc_id", "n_chars").collect()}
    b = {r.doc_id: r.n_chars for r in back.select("doc_id", "n_chars").collect()}
    assert a == b


def test_training_shard_write_roundtrip(spark, sf_smoke, tmp_path):
    """shard_assignment manifest -> partitioned parquet corpus: every
    shard directory exists, per-shard rows keep pos order, and the
    total doc count survives the round trip."""
    from pyspark.sql import functions as F

    from automated_dow30_earnings_reports_spark.operators.curation import (
        shard_assignment,
        write_training_shards,
        N_SHARDS,
    )
    from automated_dow30_earnings_reports_spark.tables import load_table

    manifest = shard_assignment(spark, sf_smoke)
    docs = load_table(spark, sf_smoke, "documents").select("doc_id", "text")
    out = str(tmp_path / "shards")
    write_training_shards(manifest, docs, out)

    back = spark.read.parquet(out)
    assert back.count() == docs.count()
    shards = {r.shard for r in back.select("shard").distinct().collect()}
    assert shards <= set(range(N_SHARDS)) and len(shards) > 1
    # partition pruning: reading one shard directory touches one partition
    one = spark.read.parquet(out).where(F.col("shard") == sorted(shards)[0])
    assert one.count() == back.where(F.col("shard") == sorted(shards)[0]).count()
    # in-file ordering matches the manifest's pos order per shard
    s0 = sorted(shards)[0]
    got = [r.doc_id for r in one.orderBy("pos").select("doc_id").collect()]
    want = [
        r.doc_id
        for r in manifest.where(F.col("shard") == s0)
        .orderBy("pos")
        .select("doc_id")
        .collect()
    ]
    assert got == want


def test_kv_line_sink_rejects_quote_and_newline(spark):
    """The key='value' format cannot encode ' or newlines; the sink must
    raise at execution instead of silently truncating on read-back
    (ADVICE r3). Well-formed rows are unaffected."""
    import pytest as _pytest
    from py4j.protocol import Py4JJavaError

    base = (
        "href string, text string, title string, link_type string, file_extension string,"
        "document_type string, source_url string, full_html string"
    )
    bad_quote = spark.createDataFrame(
        [("https://x.com/a", "O'Brien", None, "page", None, None, None, None)], base
    )
    with _pytest.raises(Exception) as ei:
        to_kv_lines(bad_quote).collect()
    assert "cannot encode" in str(ei.value)
    bad_nl = spark.createDataFrame(
        [("https://x.com/a", "line1\nline2", None, "page", None, None, None, None)], base
    )
    with _pytest.raises(Exception) as ei:
        to_kv_lines(bad_nl).collect()
    assert "cannot encode" in str(ei.value)


def test_ledger_multiline_contract(spark, tmp_path):
    """Spark's multiLine JSON parses ONE top-level value per file; a
    multi-record JSONL file read in multiline mode silently keeps only
    the first record. read_ledger therefore takes an explicit layout
    flag — this pins both sides of the contract so nobody 'simplifies'
    the flag away and reintroduces silent data loss."""
    df = spark.range(10).selectExpr("CAST(id AS STRING) AS company", "'T' AS ticker")
    out = str(tmp_path / "jsonl")
    df.coalesce(1).write.mode("overwrite").json(out)
    assert read_ledger(spark, out, multiline=False).count() == 10
    # documented hazard: multiline mode on the same JSONL file
    assert read_ledger(spark, out, multiline=True).count() == 1
    # and the reference's actual layout (pretty, one doc per file) needs
    # multiline=True — JSONL mode would see corrupt per-line fragments
    ref = read_ledger(spark, _run_ledger(tmp_path), multiline=True)
    assert ref.filter(ref.company.isNotNull()).count() == ref.count() > 0
