from .rank import normalized_rank
from .features import pivot_features

__all__ = ["normalized_rank", "pivot_features"]
