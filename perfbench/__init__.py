"""pfx benchmark harness: see README.md."""
