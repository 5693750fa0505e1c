"""Command-line tools over the engine: the correctness-gate mirror and entry timing."""
