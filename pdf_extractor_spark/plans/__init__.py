"""Physical-plan helpers: host-skew diagnostic, statement model, reconstruction."""
