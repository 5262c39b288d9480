from flink_cep_examples_spark.operators.cep_batch import (  # noqa: F401
    match_pattern,
    match_pattern_time_sliced,
)
from flink_cep_examples_spark.operators.planner import (  # noqa: F401
    choose_tier,
    run_pattern,
)
