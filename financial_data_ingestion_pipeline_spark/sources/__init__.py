from . import ingest, jsonl
from .fixtures import load_table

__all__ = ["ingest", "jsonl", "load_table"]
