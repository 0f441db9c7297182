"""Seeded end-to-end and per-layer benchmark of the KG build and the
webtext curation path; run ``python3 perfbench/run.py --help``."""
