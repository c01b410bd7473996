"""Sources and sinks: snapshot catalog seam, crawl-format codecs, curated-corpus sink."""
