"""Corpus-scale source readers (robust ingestion with quarantine) and
the versioned snapshot store."""

from .corpus import read_ndjson_quarantine
from .versioned import CommitConflict, CorpusStore

__all__ = ["read_ndjson_quarantine", "CorpusStore", "CommitConflict"]
