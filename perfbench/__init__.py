"""Build / query / churn benchmark for the engine; see README.md."""
