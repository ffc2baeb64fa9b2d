"""Deterministic pure-Python text kernels.

These run *inside* Arrow-vectorized pandas UDFs (never per-row Python
UDFs) and must be semantically exact w.r.t. the reference, because
entity-name canonicalization feeds triple P/R:

- ``clean_str``           — reference ``graphgen/utils/format.py:25-35``
- ``split_multi_markers`` — reference ``graphgen/utils/format.py:15-20``
- ``detect_main_language``— reference ``graphgen/utils/detect_lang.py:1-29``
- ``count_tokens``        — deterministic stand-in for the reference's
  tiktoken ``cl100k_base`` length function (``chunk_service.py:52``);
  any fixed length_function is admissible (``bases/base_splitter.py:19``).
"""

from __future__ import annotations

import hashlib
import html
import re

_CONTROL_CHARS_RE = re.compile(r"[\x00-\x1f\x7f-\x9f]")
# r7: deleting the same char class via str.translate is a single
# C-level pass (~3x the regex sub on the per-record hot path); the
# table covers exactly [\x00-\x1f\x7f-\x9f]
_CONTROL_DELETE = {
    c: None
    for c in list(range(0x00, 0x20)) + list(range(0x7F, 0xA0))
}
# word-ish tokens: runs of letters/digits (incl. CJK, each CJK char its
# own token like BPE roughly does) or single non-space punctuation.
_TOKEN_RE = re.compile(r"[A-Za-z0-9_]+|[一-鿿]|[^\sA-Za-z0-9_一-鿿]")
_CJK_RE = re.compile(r"[一-鿿]")
_ASCII_ALPHA_RE = re.compile(r"[A-Za-z]")


def clean_str(value) -> str:
    """Unescape HTML entities, drop control chars, strip outer quotes."""
    if not isinstance(value, str):
        return value
    out = html.unescape(value.strip())
    out = out.translate(_CONTROL_DELETE)
    return out.strip('"').strip("'")


def split_multi_markers(
    content: str, markers: list[str], _split_re=None
) -> list[str]:
    """Split on any of several literal markers, strip + drop empties.
    ``_split_re``: optional precompiled alternation of the same
    markers — hot callers (the extraction parser) pass it to skip the
    per-call escape/join/cache-lookup; semantics unchanged."""
    if _split_re is not None:
        parts = _split_re.split(content)
    else:
        if not markers:
            return [content]
        parts = re.split(
            "|".join(re.escape(m) for m in markers), content
        )
    return [p.strip() for p in parts if p.strip()]


def detect_main_language(text: str) -> str:
    """'zh' if CJK chars are >= 50% of (CJK + ascii-alpha) chars, else
    'en'.  (The reference pre-strips whitespace; neither counting
    class matches whitespace, so counting on the raw text is exact —
    the per-char Python strip was 30% of the fused kernel's wall.)"""
    zh = len(_CJK_RE.findall(text))
    en = len(_ASCII_ALPHA_RE.findall(text))
    total = zh + en
    if total == 0:
        return "en"
    return "zh" if zh / total >= 0.5 else "en"


def count_tokens(text: str) -> int:
    return len(_TOKEN_RE.findall(text))


def truncate_tokens(text: str, max_tokens: int) -> str:
    """Decode-of-first-N-tokens analogue used by the summary gate."""
    spans = [m.span() for m in _TOKEN_RE.finditer(text)]
    if len(spans) <= max_tokens:
        return text
    return text[: spans[max_tokens - 1][1]]


def md5_hex(text: str) -> str:
    return hashlib.md5(text.encode("utf-8")).hexdigest()

