from .normalize import normalize_events
from .store import TableStore
from .ingest import IngestEngine, IngestReport
from .stream import start_batch_stream, start_file_ingest

__all__ = [
    "normalize_events",
    "TableStore",
    "IngestEngine",
    "IngestReport",
    "start_batch_stream",
    "start_file_ingest",
]
