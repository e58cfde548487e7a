"""Pure-Python RTF kernel (no Spark imports here — usable on executors)."""

from .engine import (  # noqa: F401
    RAW_BUFFER_SIZE,
    TXT_BUFFER_SIZE,
    ReplacementSet,
    RTFEngine,
    empty_replacements,
)
from .unicode import (  # noqa: F401
    cdpt_from_utf8,
    cdpt_from_utf16,
    utf8_from_cdpt,
    utf16_from_cdpt,
)
from .codepage import DBSQ, NONE, UNSP, cpgfromcharsetnum, cpgtou  # noqa: F401
from .api import (  # noqa: F401
    compile_replacements,
    rtf_extract,
    rtf_extract_bytes,
    rtf_replace,
    rtf_strip,
)
