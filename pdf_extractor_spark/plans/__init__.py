"""Physical-plan policies: partitioning, skew salting, resume."""
