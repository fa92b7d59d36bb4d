"""Ingestion sources: event-family registry (each table's default spec),
subject routing and decode (Layer A of SURVEY.md §2)."""
