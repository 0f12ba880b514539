"""Web-scale KG-construction pipeline (BASELINE.json north rule).

pages (url, warc_ts, html, text, lang)
  -> extract   (JVM regexp chain; byte-identical per url to the Python
                reference extractor)
  -> prefilter (optional corpus hygiene: quality verdict + canonical-URL
                dedup)
  -> link      (n-gram mentions x broadcast alias dictionary)
  -> triples   (candidate quads via the template engine, each group at
                its natural key)
  -> canonicalize (connected-components entity clustering, rewrite, dedup)
  -> materialize  (partitioned graph tables / N-Quads)

`run.kg_step` is this flow, written once: the batch pipeline
(`run.run_pipeline`) and both KG streams (`streaming.py`) call it and
differ only in how a stage boundary is materialized.  In checkpointed
mode each stage writes a parquet "stage table" with per-partition lineage
and row-count metrics; re-running skips completed stages.
"""
