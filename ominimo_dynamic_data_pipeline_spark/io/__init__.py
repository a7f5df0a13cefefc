from ominimo_dynamic_data_pipeline_spark.io.reader import read_source, read_sources
from ominimo_dynamic_data_pipeline_spark.io.writer import sink_groups, sink_paths, write_sink

__all__ = ["read_source", "read_sources", "sink_groups", "sink_paths", "write_sink"]
