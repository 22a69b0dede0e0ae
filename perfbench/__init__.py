"""Layered benchmark for cli_p_spark; see README.md."""
