"""DataFrame operators: text analysis, dedup, similarity search."""
