"""Materialization plans: the text-reuse DAG, metadata, serving and
curation. The query registry lives in ``plans.queries`` and is imported
directly by the callers that need it."""
