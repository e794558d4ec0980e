"""End-to-end benchmark of the incremental ETL runner (see perfbench/NOTES.md)."""
