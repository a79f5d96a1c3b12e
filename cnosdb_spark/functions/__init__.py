from .timeseries import (  # noqa: F401
    time_window,
    time_window_gapfill,
    topk,
    bottom,
    first,
    last,
    increase,
    sample_deterministic,
)
from .gauge import gauge_agg, gauge_accessor  # noqa: F401
from .state import state_agg, duration_in, state_at  # noqa: F401
