"""End-to-end and per-layer benchmark of the KG stage-B build, the
incremental fold and corpus curation.  See perfbench/README.md."""
