"""Engine operators: ingest (journal build), index construction, query
execution, and the training-data pipeline ops (dedup / ANN / text
analysis)."""
