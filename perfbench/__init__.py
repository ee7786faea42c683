"""Benchmark harness for the DIA/OCR engine; see README.md."""
