"""PDF ingestion stage: raw PDF blobs → (documents, media) tables, then
straight into the extraction pipeline — the north rule's "PDF/layout
parse" front-end wired end-to-end."""

import numpy as np
import pytest

from ai_invoice_ocr_engine_spark import fixtures as FX
from ai_invoice_ocr_engine_spark import oracle as O
from ai_invoice_ocr_engine_spark.config import ExtractConfig
from ai_invoice_ocr_engine_spark.pdf import encode_pdf
from ai_invoice_ocr_engine_spark.pipeline import extract
from ai_invoice_ocr_engine_spark.sources.ingest import (
    ingest_pdfs,
    parse_pdf_doc,
    split_ingest,
)

from .util import assert_span_equal, spans_key


def _page_image(seed: int, w: int = 320, h: int = 240) -> np.ndarray:
    rng = np.random.default_rng(seed)
    img, _n = FX.render_media(rng, w, h, header_footer=False)
    return img


@pytest.fixture(scope="module")
def pdf_corpus():
    shared = _page_image(7)
    other = _page_image(8, 280, 200)
    blobs = {
        "pdf-a": encode_pdf(
            [[("text", 72, 700, 12, "Invoice No 1001"),
              ("image", 72, 380, 200, 150, shared, "gray"),
              ("text", 72, 200, 12, "Total 99.50 USD")]]
        ),
        "pdf-b": encode_pdf(
            [[("text", 72, 700, 12, "Invoice No 1002"),
              ("image", 72, 420, 200, 150, shared, "gray")],
             [("image", 72, 600, 180, 120, other, "gray"),
              ("text", 72, 300, 12, "Second page remark")]],
            use_objstm=True,
        ),
        "pdf-c": encode_pdf([[("text", 72, 700, 10, "plain text only")]]),
    }
    return blobs


def _pdf_df(spark, blobs):
    return spark.createDataFrame(
        [(k, bytearray(v)) for k, v in sorted(blobs.items())],
        "doc_id string, pdf binary",
    )


def test_ingest_matches_driver_parse(spark, pdf_corpus):
    docs, media = split_ingest(ingest_pdfs(_pdf_df(spark, pdf_corpus)))
    got = {
        r["doc_id"]: [
            (s["kind"], s["text"], s["media_ref"], s["offset"]) for s in r["spans"]
        ]
        for r in (row.asDict(recursive=True) for row in docs.collect())
    }
    for doc_id, blob in pdf_corpus.items():
        spans, _m = parse_pdf_doc(doc_id, blob)
        want = [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in spans]
        assert got[doc_id] == want, doc_id
    # kinds are normalized to the corpus model and offsets are dense
    for seq in got.values():
        assert all(k in ("text", "media") for (k, *_r) in seq)
        assert [o for (*_r, o) in seq] == list(range(len(seq)))


def test_ingest_media_dedup(spark, pdf_corpus):
    combined = ingest_pdfs(_pdf_df(spark, pdf_corpus))
    docs, media = split_ingest(combined)
    rows = media.collect()
    # the shared page image appears in pdf-a AND pdf-b but lands once
    assert len(rows) == len({r["media_ref"] for r in rows}) == 2
    refs_a = {s["media_ref"] for s in docs.where("doc_id='pdf-a'").collect()[0]["spans"]
              if s["kind"] == "media"}
    refs_b = {s["media_ref"] for s in docs.where("doc_id='pdf-b'").collect()[0]["spans"]
              if s["kind"] == "media"}
    assert refs_a & refs_b, "content-addressed ref must be shared across docs"


def test_ingest_skip_policy(spark, pdf_corpus):
    blobs = dict(pdf_corpus)
    blobs["pdf-bad"] = b"%PDF-1.4\nnot really a pdf"
    out = {r["doc_id"]: r for r in ingest_pdfs(_pdf_df(spark, blobs), on_bad="skip").collect()}
    assert out["pdf-bad"]["error"] is not None
    assert out["pdf-bad"]["spans"] == []
    assert all(out[k]["error"] is None for k in pdf_corpus)


def test_ingest_fail_policy_names_doc(spark, pdf_corpus):
    blobs = dict(pdf_corpus)
    blobs["pdf-bad"] = b"%PDF-1.4\nnot really a pdf"
    with pytest.raises(Exception, match="pdf-bad"):
        ingest_pdfs(_pdf_df(spark, blobs), on_bad="fail").collect()


def test_ingest_rejects_bad_policy(spark, pdf_corpus):
    with pytest.raises(ValueError, match="on_bad"):
        ingest_pdfs(_pdf_df(spark, pdf_corpus), on_bad="quarantine")


def test_ingested_tables_run_the_pipeline(spark, pdf_corpus):
    """Full loop: PDFs → ingest → extract == single-process oracle on the
    same ingested tables (native text passes through, embedded page
    images are OCR'd)."""
    docs, media = split_ingest(ingest_pdfs(_pdf_df(spark, pdf_corpus)))
    cfg = ExtractConfig()
    docs_rows = [r.asDict(recursive=True) for r in docs.collect()]
    media_rows = [r.asDict(recursive=True) for r in media.collect()]
    golden = spans_key(O.run_oracle(docs_rows, media_rows, cfg))
    result = extract(docs, media, cfg)
    assert_span_equal(spans_key(result.collect()), golden)
    # the embedded rendered page must actually produce OCR spans in place
    kinds = [k for (k, *_r) in golden["pdf-a"]]
    assert "ocr_text" in kinds and kinds[0] == "text"


def test_pdf_corpus_roundtrip(spark, tmp_path):
    """The synthetic interleaved corpus rendered as raw PDF files, fed
    through ingest, must reconstruct the span model exactly — and the
    full extraction over the ingested tables must produce the same
    (kind, text, order) sequences as extraction over the original
    tables (media_refs are renamed content-addressed, content is
    bit-identical)."""
    docs, media = FX.gen_corpus(seed=9, n_docs=24, max_media_side=320)
    lookup = {m["media_ref"] for m in media}
    docs = [d for d in docs
            if all(s["media_ref"] in lookup for s in d["spans"]
                   if s["kind"] == "media")]
    assert len(docs) >= 20  # only the dangling-ref edge doc drops
    pdir = str(tmp_path / "pdfs")
    FX.write_pdf_corpus(pdir, docs, media)

    from pyspark.sql import functions as F

    src = (
        spark.read.format("binaryFile").option("pathGlobFilter", "*.pdf")
        .load(pdir)
        .select(F.regexp_extract(F.col("path"), r"([^/]+)\.pdf$", 1).alias("doc_id"),
                F.col("content").alias("pdf"))
    )
    ing_docs, ing_media = split_ingest(ingest_pdfs(src))

    # 1) span model reconstructs: same kinds/texts/offsets per doc
    got = {r["doc_id"]: [(s["kind"], s["text"], s["offset"])
                         for s in r.asDict(recursive=True)["spans"]]
           for r in ing_docs.collect()}
    for d in docs:
        want = [(s["kind"], s["text"] or "", s["offset"]) for s in d["spans"]]
        assert got[d["doc_id"]] == want, d["doc_id"]

    # 2) media content round-trips bit-for-bit (SYNF re-encode is exact)
    blob_by_md5 = {}
    import hashlib
    for m in media:
        blob_by_md5["m-" + hashlib.md5(m["image"]).hexdigest()[:16]] = m["image"]
    for r in ing_media.collect():
        assert bytes(r["image"]) == blob_by_md5[r["media_ref"]]

    # 3) full extraction equality modulo the media_ref rename
    cfg = ExtractConfig()
    orig_docs = spark.createDataFrame(
        [(d["doc_id"], [(s["kind"], s["text"], s["media_ref"], s["offset"])
                        for s in d["spans"]]) for d in docs],
        "doc_id string, spans array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>",
    )
    orig_media = spark.createDataFrame(
        [(m["media_ref"], bytearray(m["image"])) for m in media],
        "media_ref string, image binary",
    )
    key = lambda rows: {  # noqa: E731
        r["doc_id"]: [(s["kind"], s["text"], s["order"])
                      for s in r.asDict(recursive=True)["spans_out"]]
        for r in rows
    }
    a = key(extract(ing_docs, ing_media, cfg).collect())
    b = key(extract(orig_docs, orig_media, cfg).collect())
    assert a == b


def test_streaming_pdf_ingest_matches_batch(spark, tmp_path, pdf_corpus):
    """Two micro-batches of landing .pdf files == one batch ingest; media
    rows sharing content across batches land exactly once (the anti-join
    MERGE stand-in)."""
    from ai_invoice_ocr_engine_spark.streaming import incremental_pdf_ingest

    land = tmp_path / "landing"
    land.mkdir()
    out = str(tmp_path / "stream_tables")
    ck = str(tmp_path / "ckpt")

    first = {k: pdf_corpus[k] for k in ("pdf-a", "pdf-c")}
    for name, blob in first.items():
        (land / f"{name}.pdf").write_bytes(blob)
    q = incremental_pdf_ingest(spark, str(land), out, ck, trigger_once=True)
    q.awaitTermination(300)

    # second batch: pdf-b shares the page image already embedded by pdf-a
    (land / "pdf-b.pdf").write_bytes(pdf_corpus["pdf-b"])
    q = incremental_pdf_ingest(spark, str(land), out, ck, trigger_once=True)
    q.awaitTermination(300)

    sdocs = spark.read.parquet(f"{out}/documents.parquet")
    smedia = spark.read.parquet(f"{out}/media.parquet")
    bdocs, bmedia = split_ingest(ingest_pdfs(_pdf_df(spark, pdf_corpus)))
    skey = lambda df: {  # noqa: E731
        r["doc_id"]: [tuple(s.values()) for s in r.asDict(recursive=True)["spans"]]
        for r in df.collect()
    }
    assert skey(sdocs) == skey(bdocs)
    got_media = sorted((r["media_ref"], bytes(r["image"])) for r in smedia.collect())
    want_media = sorted((r["media_ref"], bytes(r["image"])) for r in bmedia.collect())
    assert got_media == want_media  # no cross-batch duplicate rows


def test_cli_ingest_directory(tmp_path, pdf_corpus):
    """`python -m … ingest` over a directory of .pdf files (Spark's
    binaryFile source) writes the two tables extract consumes."""
    import json
    import os
    import subprocess
    import sys

    pdir = tmp_path / "pdfs"
    pdir.mkdir()
    for name, blob in pdf_corpus.items():
        (pdir / f"{name}.pdf").write_bytes(blob)
    out = tmp_path / "tables"
    r = subprocess.run(
        [sys.executable, "-m", "ai_invoice_ocr_engine_spark", "ingest",
         "--pdfs", str(pdir), "--out", str(out), "--master", "local[4]"],
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        capture_output=True, text=True, timeout=420,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    rep = json.loads(r.stdout.splitlines()[-1])
    assert rep["n_docs"] == 3 and rep["n_media"] == 2 and rep["n_errors"] == 0


def test_cli_ingest_stream_incremental(tmp_path, pdf_corpus):
    """`ingest --stream` over a landing directory is checkpointed: a rerun
    after a new file lands appends only that file's rows."""
    import json
    import os
    import subprocess
    import sys

    pdir = tmp_path / "landing"
    pdir.mkdir()
    (pdir / "pdf-c.pdf").write_bytes(pdf_corpus["pdf-c"])
    out = tmp_path / "tables"
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    cmd = [sys.executable, "-m", "ai_invoice_ocr_engine_spark", "ingest",
           "--pdfs", str(pdir), "--out", str(out), "--stream",
           "--master", "local[4]"]
    r = subprocess.run(cmd, cwd=repo, capture_output=True, text=True,
                       timeout=420)
    assert r.returncode == 0, r.stderr[-2000:]
    assert json.loads(r.stdout.splitlines()[-1])["n_docs_total"] == 1
    (pdir / "pdf-a.pdf").write_bytes(pdf_corpus["pdf-a"])
    r = subprocess.run(cmd, cwd=repo, capture_output=True, text=True,
                       timeout=420)
    assert r.returncode == 0, r.stderr[-2000:]
    assert json.loads(r.stdout.splitlines()[-1])["n_docs_total"] == 2


def test_streaming_pdf_ingest_password(spark, tmp_path):
    """--stream with a password-protected landing dir: the password kwarg
    reaches the per-batch parse (the CLI bug where --stream dropped
    --password), and passing one with source='html' is loudly rejected."""
    import pytest

    from ai_invoice_ocr_engine_spark.pdf import encode_pdf
    from ai_invoice_ocr_engine_spark.streaming import incremental_pdf_ingest

    land = tmp_path / "landing"
    land.mkdir()
    (land / "locked.pdf").write_bytes(
        encode_pdf([[("text", 72, 700, 12, "SECRET INVOICE")]],
                   encrypt="aesv2", user_pwd=b"hunter2")
    )
    out = str(tmp_path / "stream_tables")
    q = incremental_pdf_ingest(
        spark, str(land), out, str(tmp_path / "ck1"),
        trigger_once=True, password=b"hunter2",
    )
    q.awaitTermination(300)
    docs = spark.read.parquet(f"{out}/documents.parquet")
    rows = docs.collect()
    assert len(rows) == 1 and rows[0]["doc_id"] == "locked"
    texts = [s["text"] for r in rows
             for s in r.asDict(recursive=True)["spans"] if s["kind"] == "text"]
    assert any("SECRET INVOICE" in t for t in texts)

    with pytest.raises(ValueError, match="source='pdf'"):
        incremental_pdf_ingest(
            spark, str(land), out, str(tmp_path / "ck2"),
            source="html", password=b"x",
        )
