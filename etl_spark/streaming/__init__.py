"""Change pipeline: source files → per-batch apply → sinks."""
