"""Sources — the reference's three ingestion paths (MySQL, SQL dump,
CSV; data_to_orc_converter.sh:84-92). ORC is read back with
``sinks.orc.read_orc``, Parquet fixtures with ``catalog.load``."""
