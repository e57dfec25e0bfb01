from hmpps_digital_prison_reporting_glue_poc_spark.streaming.sessionize import (  # noqa: F401
    stream_sessionize,
)
from hmpps_digital_prison_reporting_glue_poc_spark.streaming.windowed import (  # noqa: F401
    stream_windowed_counts,
)
