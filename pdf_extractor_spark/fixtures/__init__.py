from pdf_extractor_spark.fixtures.synth import (
    make_document_row,
    make_pdf,
    synth_corpus,
)

__all__ = ["make_document_row", "make_pdf", "synth_corpus"]
