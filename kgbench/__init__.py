"""Knowledge-graph build benchmark (see SPEC.md)."""
