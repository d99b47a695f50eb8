"""Engine operators: scoring, rule engine, verdict, reports, dedup,
similarity."""
