"""crba_etl_spark — a PySpark-native CDC / incremental-ingest engine.

Built from scratch with the capability surface of the reference pipeline
(``iferminm/crba-etl``: many-source extract → cleanse → key-resolved upsert
into a combined final table, per-edition schema evolution, idempotent
re-runs) re-expressed Spark-first:

- a binlog/WAL-style change-event stream (ops I/U/D/UPSERT keyed by
  ``(conv_id, turn_idx)``, ordered by ``lsn``) is applied to a
  snapshot-atomic lake table ("icelite") of conversation transcripts;
- exactly-once per epoch via checkpointed epoch markers embedded in the
  atomic snapshot commit;
- LSN dedup + latest-per-key reduction (the reference's
  keep-latest-datapoint-per-key cleanse step — see
  ``/root/reference/etl/transformation/cleanse.py:1-3``);
- additive schema evolution (the reference's edition-over-edition source
  drift, ``/root/reference/config/{2020,2023}/in/data/staging/``);
- per-partition lineage + apply-rate metrics;
- optionally, a MinHash band index and near-duplicate group labels
  maintained in the same commit as each epoch's data (``band_index``);
- an oracle-checked query registry (``queries``) over the testdata
  tables, and the source adapters (``sources``) of the reference ETL's
  xlsx/csv/API inputs.

Everything is DataFrame-API / Catalyst-optimized; per-row Python is never
used in the hot path.
"""

__version__ = "0.1.0"
