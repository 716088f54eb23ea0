"""Scale extensions (north star, BASELINE.json): dedup, similarity search,
text analysis, multimodal column plumbing. Importing registers their queries.

Their ``localCheckpoint`` calls keep blocks on the executors with no
lineage to replay, so an executor loss fails the query; every query here
can be re-run from its source parquet, which is the recovery."""

from . import curation, dedup, graph, multimodal, sampling, similarity, sketches, textanalysis  # noqa: F401
