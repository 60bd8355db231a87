"""Source registry — importing this package registers all built-in sources."""

from .base import Source, SourceError, get_source, list_sources, register
from . import changelog as _changelog  # noqa: F401 - registration side effect
from . import files as _files  # noqa: F401
from . import jdbc as _jdbc    # noqa: F401
from . import rest as _rest    # noqa: F401

__all__ = ["Source", "SourceError", "get_source", "list_sources", "register"]
