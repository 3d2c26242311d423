from metevents_spark.streaming.detect import (  # noqa: F401
    stream_burst_collapse,
    stream_conversion_lag,
    stream_p2_quantile,
    stream_purchase_attribution,
    stream_counter_rate,
    stream_cusum,
    stream_holt,
    stream_ohlc,
    stream_daily_rollup,
    stream_dedup,
    stream_sessions,
    stream_storm_find,
    stream_time_weighted,
    stream_zscore,
)
from metevents_spark.streaming.dedup import (  # noqa: F401
    minhash_sig_col,
    stream_embedding_near_dup,
    stream_minhash_dedup,
)
from metevents_spark.streaming.funnel import (  # noqa: F401
    advance_funnel,
    stream_funnel,
)
from metevents_spark.streaming.drift import (  # noqa: F401
    drift_reference,
    stream_drift,
    stream_value_quantiles,
)
