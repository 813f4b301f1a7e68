"""Seeded, output-verified benchmark of the switchback_test_dag_spark package."""
