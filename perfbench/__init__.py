"""Diff-path benchmark of data_diff_spark (see README.md in this directory)."""
