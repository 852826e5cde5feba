"""Training-data pipeline operators over document/embedding tables:
deduplication, similarity search, text analysis."""
