"""Streaming operators. The package exports resolve lazily (PEP 562), so
a Python worker that unpickles the CEP stream operator imports its
module (and the keyed-process stream's, bound below), not the non-CEP
streaming families with their batch query dependencies."""

from importlib import import_module

# eager: the function shares its module's name, and importing a
# submodule binds the package attribute to the module, so it is bound
# to the function here, after its module is imported (a CEP-side
# module: the keyed-process tier)
from flink_cep_examples_spark.streaming.keyed_process_stream import (  # noqa: F401
    keyed_process_stream,
)

#: exported name → the module that defines it
_EXPORTS = {
    "ann_serve_stream": "ann_stream",
    "bm25_index_stream": "bm25_stream",
    "hourly_by_type_stream": "analytics",
    "sessions_stream": "analytics",
    "budget_admission_stream": "budget_stream",
    "shard_budgets": "budget_stream",
    "match_pattern_stream": "cep_stream",
    "ivf_index_stream": "ivf_stream",
    "decontaminate_stream": "decontam_stream",
    "eval_window_hash_set": "decontam_stream",
    "nb_quality_score": "quality_stream",
    "train_nb_quality_model": "quality_stream",
    "cms_frequency_stream": "sketch_stream",
    "hll_distinct_stream": "sketch_stream",
    "quantile_hist_stream": "sketch_stream",
}

__all__ = sorted([*_EXPORTS, "keyed_process_stream"])


def __getattr__(name: str):
    module = _EXPORTS.get(name)
    if module is None:
        raise AttributeError(f"module {__name__!r} has no attribute {name!r}")
    return getattr(import_module(f"{__name__}.{module}"), name)
