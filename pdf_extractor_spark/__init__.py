"""pdf_extractor_spark — a PySpark-native main-content extraction engine.

A from-scratch re-expression of the capabilities of the reference repo
youssef-S-Elmahdy/PDF_Extractor (see /root/repo/SURVEY.md) as an idiomatic
Spark DataFrame program:

- the reference's per-document remote-LLM map (reference src/extractor.py:38-136)
  becomes two vectorized pandas UDFs: a from-scratch HTML DOM tokenizer with
  text-density/link-density boilerplate scoring, and a from-scratch PDF
  content-stream layout parser (``extract/``);
- the reference's deterministic normalizer (reference src/validator.py:389-945)
  becomes pure Spark column expressions (``functions/``);
- the reference's driver-side merge/dedupe/retry loops (reference main.py)
  become joins / aggregations / anti-join resume (``operators/``, ``plans/``);
- the reference's output files (reference src/formatter.py) become a
  snapshot catalog with per-partition lineage and a partitioned
  curated-corpus sink (``sources/``).

Everything here is built on public PySpark 4.x APIs only.
"""

__version__ = "0.1.0"
