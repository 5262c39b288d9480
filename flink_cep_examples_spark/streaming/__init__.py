from flink_cep_examples_spark.streaming.ann_stream import (  # noqa: F401
    ann_serve_stream,
)
from flink_cep_examples_spark.streaming.bm25_stream import (  # noqa: F401
    bm25_index_stream,
)
from flink_cep_examples_spark.streaming.analytics import (  # noqa: F401
    hourly_by_type_stream,
    sessions_stream,
)
from flink_cep_examples_spark.streaming.budget_stream import (  # noqa: F401
    budget_admission_stream,
    shard_budgets,
)
from flink_cep_examples_spark.streaming.cep_stream import (  # noqa: F401
    match_pattern_stream,
)
from flink_cep_examples_spark.streaming.ivf_stream import (  # noqa: F401
    ivf_index_stream,
)
from flink_cep_examples_spark.streaming.decontam_stream import (  # noqa: F401
    decontaminate_stream,
    eval_window_hash_set,
)
from flink_cep_examples_spark.streaming.keyed_process_stream import (  # noqa: F401
    keyed_process_stream,
)
from flink_cep_examples_spark.streaming.quality_stream import (  # noqa: F401
    nb_quality_score,
    train_nb_quality_model,
)
from flink_cep_examples_spark.streaming.sketch_stream import (  # noqa: F401
    cms_frequency_stream,
    hll_distinct_stream,
    quantile_hist_stream,
)
