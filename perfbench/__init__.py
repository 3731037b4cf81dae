"""Entity-resolution benchmark (see README.md)."""
