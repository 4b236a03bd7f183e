"""Pure-Python per-document extraction core.

Everything in this package is a deterministic pure function of the input
bytes/text — no filesystem, no clock, no uuids — so the same code runs
unchanged as a plain function in unit tests and inside the Arrow-batched
extraction UDF on executors. Nothing here imports Spark, and nothing at
module level imports pandas or ``operators``.
"""
