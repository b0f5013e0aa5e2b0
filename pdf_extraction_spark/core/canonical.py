"""Slug + canonical key synthesis.

Parity: reference app/models/extraction.py:131-161 (`_slug`,
`build_canonical_filename`; same helper duplicated at
app/models/memo_extraction.py:137-173 and scripts/export_extractions_md.py:50).
Here implemented once, and also mirrored as a native Column expression in
``pdf_extraction_spark.functions.exprs.slug_expr`` so the hot path never
calls Python.
"""

from __future__ import annotations

import re

_SLASH_RE = re.compile(r"[/\\]+")
_NONALNUM_RE = re.compile(r"[^a-z0-9\-]+")
_DASHES_RE = re.compile(r"-+")


def slug(text: str) -> str:
    """lowercase → path-seps to '-' → non [a-z0-9-] to '-' → collapse → strip."""
    text = text.lower()
    text = _SLASH_RE.sub("-", text)
    text = _NONALNUM_RE.sub("-", text)
    text = _DASHES_RE.sub("-", text)
    return text.strip("-")


def build_canonical_key(doc_id: str, subject: str, grade: str, session: str, year: int, suffix: str = "qp") -> str:
    """'-'-joined canonical stem — reference app/models/extraction.py:153-161."""
    return "-".join([doc_id, slug(subject), "gr" + slug(grade), slug(session), str(year), suffix])


# --------------------------------------------------------------------------
# F3: upload filename sanitization — full port of reference
# app/services/file_validator.py:84-142 (the constants and rule order ARE
# the spec; boundary cases pinned in tests/test_core_extractor.py).

_WINDOWS_RESERVED_NAMES = frozenset(
    {"con", "prn", "aux", "nul"}
    | {f"com{i}" for i in range(1, 10)}
    | {f"lpt{i}" for i in range(1, 10)}
)

_UNSAFE_RE = re.compile(r"[^a-zA-Z0-9._-]")


def sanitize_filename(filename: str) -> str:
    """Path-traversal-safe upload filename (reference
    app/services/file_validator.py:84-142): basename → NFKD → strip
    control chars → kill '..', '/', '\\', NUL → whitelist
    [a-zA-Z0-9._-] → reject empty / Windows device names → force .pdf →
    cap 255 (truncate the stem, keep the extension)."""
    import unicodedata
    from pathlib import Path

    filename = Path(filename).name
    filename = unicodedata.normalize("NFKD", filename)
    filename = "".join(c for c in filename if (ord(c) >= 32 and ord(c) != 127))
    filename = filename.replace("..", "").replace("/", "").replace("\\", "")
    filename = filename.replace("\0", "")
    filename = _UNSAFE_RE.sub("_", filename)
    if not filename or filename == ".pdf":
        filename = "upload.pdf"
    stem = Path(filename).stem.lower()
    if stem in _WINDOWS_RESERVED_NAMES:
        filename = "upload.pdf"
    if not filename.lower().endswith(".pdf"):
        filename = filename + ".pdf"
    if len(filename) > 255:
        filename = filename[:-4][:250] + ".pdf"
    return filename
