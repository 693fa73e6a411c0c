"""Structured Streaming surface: the ingest-time document quality gate.

``quality_stream.run_quality_gate_once`` drains a landing directory of
documents through the row-local repetition score and the eval-set
decontamination join, routing each micro-batch to a kept corpus or a
quarantine sink (driven by the ``stream_gate`` workload of
``tools/bench_pair.py``); ``tools/curate_docs.py`` reuses its
``build_eval_grams`` for the batch decontamination stage. The reference
itself has no streaming: each POST /detect call is a self-contained
micro-batch over a temp file (``api/detect_anomaly_sequence.py:186-192``),
which the batch engine covers.
"""
