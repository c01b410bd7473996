"""Driver-contract query catalog: SURVEY.md §2 operators as (Spark, oracle SQL)
pairs over the /root/testdata tables.

Every entry returns a DataFrame whose column names/aliases match its oracle
exactly (the driver hashes values after sorting columns by name). Float
outputs are rounded identically on both sides. All hashes in checked results
are md5-hex-string based so DuckDB reproduces them bit-for-bit.

One module per query family, sharing the @query registry in _registry.
Importing a family registers its queries, so the import order below IS the
catalog order: append new families, never insert. A family's helpers are
imported from its own module.
"""

from __future__ import annotations

from pdf_extractor_spark.queries import (  # noqa: F401  (registration)
    q01_relational,
    q02_scalar_normalize,
    q03_textstats,
    q04_dedup,
    q05_events,
    q06_embeddings,
    q07_extraction_multimodal,
    q08_graph_mixture,
    q09_variant_shapes,
    q10_round3_ops,
    q11_retrieval_phash,
    q12_quality_sketches,
    q13_harvest_urlstats,
    q14_pass7_wat_justext,
    q15_pass8_graph_dpo,
    q16_pass9_crawl_kcore,
    q17_pass10_markdown_quant,
    q18_pass11_unicode_topic,
    q19_pass12_content_gates,
    q20_pass13_mixture_eval,
    q21_hygiene_phrase,
    q22_softdedup_tuning,
    q23_round5,
)
from pdf_extractor_spark.queries._registry import (  # noqa: F401
    _DRIVER_WINDOW,
    _ORACLES,
    _QUERIES,
    all_oracles,
    all_queries,
)
