"""File-arrival drains: the corpus admission gate (corpus_ingest) and
the URL frontier (frontier)."""
