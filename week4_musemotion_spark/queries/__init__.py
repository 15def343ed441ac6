"""Named query inventory (SURVEY.md §7.2) → driver contract.

Importing this package populates :data:`REGISTRY` with every
implemented query.
"""

from week4_musemotion_spark.queries.registry import REGISTRY, QuerySpec, query  # noqa: F401

# Registration side-effects — order mirrors SURVEY.md §7.3 build plan.
from week4_musemotion_spark.queries import relational  # noqa: E402,F401
from week4_musemotion_spark.queries import cleaning  # noqa: E402,F401
from week4_musemotion_spark.queries import extensions  # noqa: E402,F401
from week4_musemotion_spark.queries import analytics  # noqa: E402,F401
from week4_musemotion_spark.queries import temporal  # noqa: E402,F401
from week4_musemotion_spark.queries import windows_battery  # noqa: E402,F401
from week4_musemotion_spark.queries import setops  # noqa: E402,F401
from week4_musemotion_spark.queries import functions_battery  # noqa: E402,F401
from week4_musemotion_spark.queries import pipeline_ops  # noqa: E402,F401
from week4_musemotion_spark.queries import curation  # noqa: E402,F401
from week4_musemotion_spark.queries import tpch  # noqa: E402,F401
from week4_musemotion_spark.queries import tpch_subqueries  # noqa: E402,F401
from week4_musemotion_spark.queries import mining  # noqa: E402,F401
from week4_musemotion_spark.queries import behavior  # noqa: E402,F401
from week4_musemotion_spark.queries import lifecycle  # noqa: E402,F401
from week4_musemotion_spark.queries import mixing  # noqa: E402,F401
from week4_musemotion_spark.queries import textmix  # noqa: E402,F401
from week4_musemotion_spark.queries import semantic  # noqa: E402,F401
from week4_musemotion_spark.queries import gatelog  # noqa: E402,F401
from week4_musemotion_spark.queries import sketch_quality  # noqa: E402,F401
from week4_musemotion_spark.queries import sketch_audits  # noqa: E402,F401
from week4_musemotion_spark.queries import provenance  # noqa: E402,F401
from week4_musemotion_spark.queries import corpus_accounting  # noqa: E402,F401
from week4_musemotion_spark.queries import ranking_audits  # noqa: E402,F401
from week4_musemotion_spark.queries import distribution_audits  # noqa: E402,F401
from week4_musemotion_spark.queries import pq_quantiles  # noqa: E402,F401
from week4_musemotion_spark.queries import retrieval_eval  # noqa: E402,F401

# The reference's own SQL corpus: run through ``run_corpus``, not the registry.
from week4_musemotion_spark.queries import musemotion_sql  # noqa: E402,F401
