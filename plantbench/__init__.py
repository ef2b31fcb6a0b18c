"""Plant-traffic benchmark (see README.md)."""
