"""Generated Unicode casefold + ASCII-projection translate tables.

Problem (VERDICT r7, "What's missing" #1/#2): full Unicode ``lower()``
is not bit-identical across engines (Spark maps U+0130 to 'i'+combining
dot, DuckDB to plain 'i'; Spark emits final sigma where DuckDB keeps
'σ' — both probed on this toolchain), and ``levenshtein`` counts BYTES
in DuckDB but UTF-16 units in Spark (probed: 'ё'→'е' is 2 vs 1) — so
case-insensitive keys and edit-distance linkage were ASCII-gated.

Fix: do NOT call either engine's lower(). Both engines' ``translate``
is an exact 1:1 codepoint map applied identically, so the fold is a
table GENERATED HERE (Python's per-codepoint simple case map, filtered
to 1:1 pairs) and embedded as the same literal in both plans:

* ``FOLD_SRC → FOLD_DST`` — ASCII A-Z plus every uppercase codepoint
  of Latin-1 Supplement, Latin Extended-A, Greek (incl. tonos
  capitals) and Cyrillic (incl. the Ѐ-Џ extensions) whose lowercase
  is a single codepoint, plus final-sigma unification (ς→σ). U+0130
  (İ) maps to 'i̇' (two codepoints) in the simple map and is therefore
  excluded — it folds to itself, honestly documented.

* ``PROJ_SRC → PROJ_DST`` — the edit-distance enabler: a 1:1 map from
  every FOLDED lowercase codepoint of those scripts onto a single
  ASCII byte, so a projected string has bytes == codepoints == UTF-16
  units and both engines' levenshtein agree exactly. Latin accents
  project to their NFD base letter (é→e — the record-linkage
  normalization a name matcher wants anyway); homoglyph-stable
  Cyrillic/Greek letters project to their Unicode-TR39 Latin
  confusable (а→a, о→o, ο→o …), which also catches mixed-script
  homoglyph near-duplicates; every remaining letter gets a distinct
  collision-free ASCII slot (uppercase first — impossible in folded
  text — then control bytes 0x01-0x1f, then punctuation).

Scope note: codepoints OUTSIDE these scripts (CJK, Hangul, Arabic,
emoji …) fold to themselves and do not project; edit-distance
operators gate them out with :data:`PROJECTED_GATE` (strings whose
projection is pure ASCII). That shrinks the exclusion from "anything
non-ASCII" to "scripts where character-level edit distance is not a
meaningful linkage metric to begin with".
"""

from __future__ import annotations

import unicodedata

_ASCII_UP = "ABCDEFGHIJKLMNOPQRSTUVWXYZ"
_ASCII_LO = "abcdefghijklmnopqrstuvwxyz"

# Uppercase ranges with 1:1 simple lowercase maps (scripts chosen per
# the r7 verdict: they cover most non-CJK corpora).
_CASE_RANGES = (
    (0x00C0, 0x00DE),  # Latin-1 Supplement (0x00D7 × filtered: no case)
    (0x0100, 0x017F),  # Latin Extended-A (digraphs ǅ-style live in Ext-B)
    (0x0386, 0x03AB),  # Greek: tonos capitals + Α-Ω + dialytika
    (0x0400, 0x042F),  # Cyrillic: Ѐ-Џ extensions + А-Я
)


def _fold_pairs() -> list[tuple[str, str]]:
    pairs = []
    for lo, hi in _CASE_RANGES:
        for cp in range(lo, hi + 1):
            ch = chr(cp)
            low = ch.lower()
            # keep only 1:1 maps (İ→'i̇' is 2 codepoints: excluded);
            # caseless codepoints lower() to themselves: excluded
            if len(low) == 1 and low != ch:
                pairs.append((ch, low))
    pairs.append(("ς", "σ"))  # final-sigma unification (casefold, not case)
    return pairs

_PAIRS = _fold_pairs()

FOLD_SRC = _ASCII_UP + "".join(a for a, _ in _PAIRS)
FOLD_DST = _ASCII_LO + "".join(b for _, b in _PAIRS)

# ---------------------------------------------------------------------
# ASCII projection (folded lowercase letters → one ASCII byte each)
# ---------------------------------------------------------------------

# Unicode TR39 confusables with a stable Latin lowercase skeleton —
# projecting these onto their Latin double also unifies mixed-script
# homoglyph spoofing, a real dedup concern.
_CONFUSABLE = {
    "а": "a", "е": "e", "о": "o", "р": "p", "с": "c", "у": "y", "х": "x",
    "і": "i", "ј": "j", "ѕ": "s", "є": "e", "ї": "i", "ѐ": "e", "ѝ": "i",
    "ο": "o", "ν": "v",
}
# Latin letters whose NFD form does not decompose to an ASCII base
_LATIN_FALLBACK = {
    "ß": "s", "æ": "a", "ø": "o", "þ": "t", "ð": "d", "đ": "d",
    "ħ": "h", "ı": "i", "ĸ": "k", "ł": "l", "ŋ": "n", "œ": "o",
    "ſ": "s",
}

# collision-free slot pool: uppercase can never appear in FOLDED text;
# control bytes never appear in normal corpora; punctuation last (may
# collide with real punctuation — parity still exact, distance merges
# the rare collision). ' " \ ` and whitespace excluded (SQL-literal and
# tokenizer safety).
_SLOT_POOL = (
    _ASCII_UP
    + "".join(chr(c) for c in range(0x01, 0x20) if chr(c) not in "\t\n\r")
    + "!#$%&()*+,./:;<=>?@[]^{|}~"
)


def _proj_pairs() -> list[tuple[str, str]]:
    # the projection domain: every folded-lowercase codepoint of the
    # scripts above (fold targets + codepoints already lowercase)
    domain = sorted(
        {b for _, b in _PAIRS}
        | {
            chr(cp)
            for lo, hi in ((0x00DF, 0x00FF), (0x0100, 0x017F),
                           (0x03AC, 0x03CE), (0x0430, 0x045F))
            for cp in range(lo, hi + 1)
            if chr(cp).lower() == chr(cp) and unicodedata.category(chr(cp)) == "Ll"
        },
        # non-decomposable base letters first, so an accented form (ά,
        # ё, ќ …) finds its base already assigned and SHARES the slot —
        # accent-insensitive projection, consistent with the Latin
        # diacritic strip
        key=lambda ch: (unicodedata.normalize("NFD", ch) != ch, ord(ch)),
    )
    slots = iter(_SLOT_POOL)
    assigned: dict[str, str] = {}
    pairs = []
    for ch in domain:
        if ch in _CONFUSABLE:
            tgt = _CONFUSABLE[ch]
        elif ch in _LATIN_FALLBACK:
            tgt = _LATIN_FALLBACK[ch]
        else:
            nfd = unicodedata.normalize("NFD", ch)
            if nfd[0].isascii() and nfd[0].isalpha():
                tgt = nfd[0]  # é→e, ā→a, ç→c … diacritic strip
            elif nfd[0] != ch and nfd[0] in assigned:
                tgt = assigned[nfd[0]]  # ά→α's slot, ё→е's, й→и's
            else:
                tgt = next(slots)
        assigned[ch] = tgt
        pairs.append((ch, tgt))
    return pairs


_PROJ = _proj_pairs()
PROJ_SRC = "".join(a for a, _ in _PROJ)
PROJ_DST = "".join(b for _, b in _PROJ)

# gate for edit-distance operators: the PROJECTED string must be pure
# single-byte printable-or-slot ASCII (so DuckDB bytes == Spark UTF-16
# units) and non-empty. Valid verbatim under Java regex and RE2.
PROJECTED_GATE = "^[\\x01-\\x7e]+$"


def fold_sql(expr: str) -> str:
    """Oracle-side fold: ``translate(expr, FOLD_SRC, FOLD_DST)``."""
    return f"translate({expr}, '{FOLD_SRC}', '{FOLD_DST}')"
