"""Layer-ledger benchmark for the landlensdb_spark geo engine (see README.md)."""
