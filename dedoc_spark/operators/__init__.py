"""Spark DataFrame operators: the extraction stage and the web-scale
training-data pipeline operators (dedup, similarity, text stats,
archives/attachments, classifier, snapshots, crawl e2e).

Import each operator from its submodule. This package imports nothing, so
a worker that unpickles the extraction UDF loads ``pipeline`` alone, not
every operator and pandas with them."""
