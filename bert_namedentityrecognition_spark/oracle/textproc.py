"""Text preprocessing semantics.

- ``preprocess_text``  — strip + remove literal ``<core>`` tags
  (semantics of ``util/text_utils.py:5-24``)
- ``split_sentences``  — the exact sentence-split regex of
  ``util/text_utils.py:27-47`` (kept byte-identical; parity-critical)
- ``han_to_zen``       — half-width → full-width normalization matching
  ``mojimoji.han_to_zen`` defaults (ascii+digit+kana), used at
  ``BERT/Model.py:403-405`` and on every dictionary side
  (``knowledge_bases/manbyo.py:58``). Normalization MUST be applied
  identically to mentions and dictionary surfaces or fuzzy-join parity breaks.
"""

from __future__ import annotations

import re

# Byte-identical to the reference regex (util/text_utils.py:38-39).
SENTENCE_SPLIT_REGEX = (
    r"(?<!\w\.\w.)(?<![A-Z][a-z]\.)(?<=[.?!])\s\n*"
    r"|(?<=[^A-zＡ-ｚ0-9０-９ ].)(?<=[。．.?？!！])(?![\.」])\n*"
)
_SENT_RE = re.compile(SENTENCE_SPLIT_REGEX)


def preprocess_text(text: str, remove_core_tag: bool = True) -> str:
    if remove_core_tag:
        text = text.replace("<core>", "").replace("</core>", "")
    return text.strip()


def split_sentences(text: str) -> list[str]:
    """Split one text into sentences; strip each, drop empties."""
    parts = _SENT_RE.split(text)
    return [p.strip() for p in parts if p is not None and p.strip() != ""]


# --- han_to_zen ------------------------------------------------------------

_HW_KANA = "ｦｧｨｩｪｫｬｭｮｯｰｱｲｳｴｵｶｷｸｹｺｻｼｽｾｿﾀﾁﾂﾃﾄﾅﾆﾇﾈﾉﾊﾋﾌﾍﾎﾏﾐﾑﾒﾓﾔﾕﾖﾗﾘﾙﾚﾛﾜﾝ"
_FW_KANA = "ヲァィゥェォャュョッーアイウエオカキクケコサシスセソタチツテトナニヌネノハヒフヘホマミムメモヤユヨラリルレロワン"
_HW_PUNCT = {"｡": "。", "｢": "「", "｣": "」", "､": "、", "･": "・", "ﾞ": "゛", "ﾟ": "゜"}
_DAKUTEN_BASE = "ｶｷｸｹｺｻｼｽｾｿﾀﾁﾂﾃﾄﾊﾋﾌﾍﾎｳ"
_DAKUTEN_FULL = "ガギグゲゴザジズゼゾダヂヅデドバビブベボヴ"
_HANDAKUTEN_BASE = "ﾊﾋﾌﾍﾎ"
_HANDAKUTEN_FULL = "パピプペポ"

_KANA_MAP = dict(zip(_HW_KANA, _FW_KANA))
_DAKUTEN_MAP = dict(zip(_DAKUTEN_BASE, _DAKUTEN_FULL))
_HANDAKUTEN_MAP = dict(zip(_HANDAKUTEN_BASE, _HANDAKUTEN_FULL))


def han_to_zen(text: str) -> str:
    """Half-width ASCII/digit/katakana → full-width (mojimoji defaults)."""
    out: list[str] = []
    i = 0
    n = len(text)
    while i < n:
        ch = text[i]
        nxt = text[i + 1] if i + 1 < n else ""
        code = ord(ch)
        if ch == " ":
            out.append("　")
        elif 0x21 <= code <= 0x7E:
            out.append(chr(code + 0xFEE0))
        elif ch in _DAKUTEN_MAP and nxt == "ﾞ":
            out.append(_DAKUTEN_MAP[ch])
            i += 1
        elif ch in _HANDAKUTEN_MAP and nxt == "ﾟ":
            out.append(_HANDAKUTEN_MAP[ch])
            i += 1
        elif ch in _KANA_MAP:
            out.append(_KANA_MAP[ch])
        elif ch in _HW_PUNCT:
            out.append(_HW_PUNCT[ch])
        else:
            out.append(ch)
        i += 1
    return "".join(out)


def remove_tags(text: str, tag_list: list[str] | None = None) -> str:
    """Strip XML tags (``util/text_utils.py:86-98`` semantics)."""
    if tag_list:
        for tag in tag_list:
            text = re.sub(r"</?{}>".format(re.escape(tag)), "", text)
        return text
    return re.sub("<[^<>]*>", "", text)


_SCRIPT_STYLE_RE = re.compile(
    r"<(script|style)\b[^>]*>.*?</\1\s*>", re.IGNORECASE | re.DOTALL
)
_BLOCK_TAG_RE = re.compile(
    r"</?(p|div|br|li|ul|ol|h[1-6]|tr|td|th|table|section|article|header|footer)\b[^>]*>",
    re.IGNORECASE,
)


def html_to_text(html: bytes | str) -> str:
    """Deterministic html → text for pages where ``text`` is null
    (input_hint: "html binary, text string" — text wins when present).

    Order: utf-8 decode (errors replaced) → drop script/style subtrees →
    block-level tags become newlines (so sentence structure survives) →
    remaining tags stripped → entities unescaped → per-line whitespace
    collapse. Pure function of the bytes: the byte-identical-text-per-url
    invariant extends to html-only rows."""
    import html as _htmllib

    if html is None:
        return ""
    if isinstance(html, (bytes, bytearray)):
        html = bytes(html).decode("utf-8", errors="replace")
    s = _SCRIPT_STYLE_RE.sub(" ", html)
    s = _BLOCK_TAG_RE.sub("\n", s)
    s = re.sub("<[^<>]*>", "", s)
    s = _htmllib.unescape(s)
    lines = [re.sub(r"[ \t\r\f\v]+", " ", ln).strip() for ln in s.split("\n")]
    return "\n".join(ln for ln in lines if ln)


def _split_excl_class(ch: str) -> bool:
    """Membership in the split regex's ``[A-zＡ-ｚ0-9０-９ ]`` class."""
    o = ord(ch)
    return (
        0x41 <= o <= 0x7A
        or 0xFF21 <= o <= 0xFF5A
        or 0x30 <= o <= 0x39
        or 0xFF10 <= o <= 0xFF19
        or ch == " "
    )


_SPLIT_DELIMS = set("。．.?？!！")


def positional_split_no_ws(text: str) -> list[str]:
    """Lookbehind-free reformulation of :func:`split_sentences`, valid for
    texts containing NO regex-``\\s`` characters (then only the zero-width
    Japanese branch of the split regex can fire). Split points are
    enumerated per character position and tested with plain char classes —
    exactly the construction the DuckDB e2e oracle uses
    (``__spark_entry__._kg_e2e_sql``), so RE2 can replay it. Equality with
    the regex split is property-tested (``tests/test_round2_fixes.py``) and
    asserted per-text at oracle-generation time."""
    n = len(text)
    ps = [
        p
        for p in range(2, n + 2)  # split BEFORE 1-based char p; p=n+1 => end
        if text[p - 2] in _SPLIT_DELIMS
        and p >= 3
        and not _split_excl_class(text[p - 3])
        and not (p <= n and text[p - 1] in (".", "」"))
    ]
    bounds = [1] + ps + [n + 1]
    parts = [text[bounds[i] - 1 : bounds[i + 1] - 1] for i in range(len(bounds) - 1)]
    return [s.strip() for s in parts if s.strip()]


def findstem(words: list[str]) -> str:
    """Longest "common" substring finder (``util/text_utils.py:99-134``),
    reference quirks preserved faithfully: candidates are substrings of the
    SHORTEST word, and the reference's ``k + 1 == n`` acceptance test cannot
    distinguish a containment failure at the LAST (longest) word from a
    completed check — so the longest word is effectively never checked, a
    single word yields ``''``, and a two-word list yields the shorter word
    unconditionally. No reference pipeline calls it (presumably for these
    reasons); shipped for §2.4 inventory completeness, pinned to goldens
    captured from the reference function executed in isolation."""
    if len(words) < 2:
        return ""
    ordered = sorted(words, key=len)
    s = ordered[0]
    checked = ordered[1:-1]  # the last word escapes the reference's check
    best = ""
    for i in range(len(s)):
        for j in range(i + 1, len(s) + 1):
            stem = s[i:j]
            if len(stem) > len(best) and all(stem in w for w in checked):
                best = stem
    return best

