from pyshp_spark.streaming.pip_stream import (  # noqa: F401
    streaming_point_in_polygon,
    streaming_cell_counts,
)
from pyshp_spark.streaming.neardup_stream import (  # noqa: F401
    minhash_neardup_sink,
    neardup_filter_batch,
)
