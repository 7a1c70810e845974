from .pipeline import CheckpointedRun, chunk_of

__all__ = ["CheckpointedRun", "chunk_of"]
