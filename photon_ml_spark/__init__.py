"""photon-ml-spark: a PySpark-native rebuild of linkedin/photon-ml.

A brand-new analytics/ML engine with the query and data-processing
capabilities of the reference (GLM + GAME/GLMix mixed-effect training,
scoring, evaluation, featurization), re-expressed Spark-first:
DataFrames end-to-end, Catalyst-optimized plans, Python over Arrow
batches (of entities, for the per-entity solves) only where imperative
logic genuinely requires it.

Layout (maps to SURVEY.md §2 operator inventory):

- ``sources``    — readers, featurization, feature dictionaries, model I/O
- ``operators``  — validation, sampling, joins, top-k, dedup, similarity, text
- ``functions``  — link functions, vector expressions, stats, metrics
- ``ml``         — GLM solve, random effects, coordinate descent, scoring
- ``streaming``  — structured-streaming scoring (extension; reference is batch-only)
"""

__version__ = "0.1.0"
