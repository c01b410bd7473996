"""Host-skew diagnostics for the extraction hot path.

The UDF stage's exchange is keyed by url alone
(``pipeline.extract_documents``), never by host: hashing the url already
spreads one Zipf-heavy host's pages over every partition, so no host-level
salt is needed and no action has to run before the write to find heavy
hosts. A host-keyed layout is the thing to avoid — it puts a heavy host's
whole share on one partition, which AQE cannot split because the skewed
stage is the Python UDF, not a shuffle join (tests/test_scale_plan.py).

``heavy_hosts`` stays as a diagnostic for inputs whose host mix is unknown.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

HEAVY_HOST_FRACTION = 0.02  # a host with >2% of all rows is "heavy"


def heavy_hosts(df: DataFrame, url_col: str = "url", fraction: float = HEAVY_HOST_FRACTION) -> list[str]:
    """Hosts holding more than ``fraction`` of rows. Column-pruned scan: url only."""
    total = df.select(url_col).count()
    if total == 0:
        return []
    rows = (
        df.select(F.parse_url(F.col(url_col), F.lit("HOST")).alias("host"))
        .groupBy("host")
        .count()
        .filter(F.col("count") > fraction * total)
        .select("host")
        .collect()
    )
    return sorted(r["host"] for r in rows if r["host"] is not None)
