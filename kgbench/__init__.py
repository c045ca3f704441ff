"""Shipped-path benchmark of the surfactant_spark knowledge-graph engine."""
