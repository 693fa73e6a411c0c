"""Sources: raw-log-text scan (S1/S2)."""

from log_anomaly_detector_spark.sources.logtext import (  # noqa: F401
    generate_logformat_regex,
    read_structured_logs,
)
