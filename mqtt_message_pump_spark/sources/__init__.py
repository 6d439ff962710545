from mqtt_message_pump_spark.sources.testing import (
    file_message_stream,
    rate_message_stream,
)

__all__ = ["file_message_stream", "rate_message_stream"]

