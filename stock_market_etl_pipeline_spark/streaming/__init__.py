from .ingest import dedup_stream, start_pipeline_stream

__all__ = ["dedup_stream", "start_pipeline_stream"]
