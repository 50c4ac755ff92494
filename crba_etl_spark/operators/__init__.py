"""Operator library: the CDC reducer, merge and schema evolution, the
snapshot diff, the near-duplicate operators (text_dedup, graph) behind
the band index and dedup labels, and the token statistics and
fingerprint operators (text_analysis) of the query registry."""
