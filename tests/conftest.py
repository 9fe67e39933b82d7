import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from ai_invoice_ocr_engine_spark import fixtures as FX  # noqa: E402
from ai_invoice_ocr_engine_spark.sources.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app="tests", master="local[4]", shuffle_partitions=8, arrow_batch=32)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def corpus(tmp_path_factory):
    """t1 smoke corpus (FIXTURES.md §5), sized for fast tests."""
    d = tmp_path_factory.mktemp("corpus_t1")
    docs, media = FX.gen_corpus(seed=42, n_docs=80, max_media_side=640)
    docs_path, media_path = FX.write_corpus(str(d), docs, media)
    return {"dir": str(d), "docs_path": docs_path, "media_path": media_path,
            "docs": docs, "media": media}


@pytest.fixture(scope="session")
def golden_spans(corpus):
    """The single-process oracle (extractor.extract_doc via run_oracle) on
    the t1 corpus, as {doc_id: [(kind, text, media_ref, order), ...]} —
    the expected side of the Spark-vs-oracle equality checks."""
    from ai_invoice_ocr_engine_spark import oracle as O
    from ai_invoice_ocr_engine_spark.config import ExtractConfig

    from .util import spans_key

    return spans_key(O.run_oracle(corpus["docs"], corpus["media"], ExtractConfig()))
