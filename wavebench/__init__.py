"""Seeded client benchmark for datawave_spark; see README.md."""
