"""Seeded end-to-end benchmark for inspig_etl_spark (see NOTES.md)."""
