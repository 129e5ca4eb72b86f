"""Structured logging setup — the reference's dedicated logging config
(/root/reference/config/logging.py:38-84) re-expressed for the engine:
console handler with a structured line format, optional rotating file
handler, quieted third-party loggers, idempotent setup.
"""

from __future__ import annotations

import logging
import logging.handlers
import os

FORMAT = "%(asctime)s %(levelname)-7s %(name)s %(message)s"
DATEFMT = "%Y-%m-%dT%H:%M:%S%z"

# chatty third-party loggers pinned to WARNING (reference logging.py quiets
# urllib3/requests the same way)
QUIET = ["py4j", "pyspark", "urllib3"]

_CONFIGURED = False


def setup_logging(level: str = "INFO", log_file: str | None = None) -> logging.Logger:
    """Configure the root 'wage_etl_spark' logger: console always, rotating
    file when ``log_file`` is given (10 MB x 3 backups). Safe to call more
    than once (handlers are not duplicated)."""
    global _CONFIGURED
    root = logging.getLogger("wage_etl_spark")
    root.setLevel(getattr(logging, level.upper(), logging.INFO))
    if not _CONFIGURED:
        console = logging.StreamHandler()
        console.setFormatter(logging.Formatter(FORMAT, datefmt=DATEFMT))
        root.addHandler(console)
        root.propagate = False
        for name in QUIET:
            logging.getLogger(name).setLevel(logging.WARNING)
        _CONFIGURED = True
    # baseFilename is always absolute — compare against abspath so a
    # relative log_file doesn't add a duplicate handler on repeat calls
    if log_file and not any(
        isinstance(h, logging.handlers.RotatingFileHandler)
        and getattr(h, "baseFilename", None) == os.path.abspath(log_file)
        for h in root.handlers
    ):
        fh = logging.handlers.RotatingFileHandler(
            log_file, maxBytes=10 * 1024 * 1024, backupCount=3
        )
        fh.setFormatter(logging.Formatter(FORMAT, datefmt=DATEFMT))
        root.addHandler(fh)
    return root

