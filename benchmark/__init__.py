"""End-to-end and per-layer benchmark of doc_ocr_spark (see run.py)."""
