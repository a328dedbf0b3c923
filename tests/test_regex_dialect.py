"""Property-based audit of the Python→Java regex dialect boundary.

``translate_python_regex`` decides whether a ``Pattern`` validator lowers
to native ``rlike`` (Java regex on the executors) or falls back to the
kernel. The property: for every pattern the translator ACCEPTS, the Java
engine must (a) compile the translated pattern — an executor-side
PatternSyntaxException mid-job is the failure mode the translator
exists to prevent — and (b) agree with CPython ``re.match`` on every
subject. Patterns the translator REJECTS (returns None) are always safe:
they take the kernel fallback.

The Java side is evaluated through ``spark._jvm``'s
``java.util.regex.Pattern`` — the exact engine Spark's ``RLike`` uses
(compile + ``matcher(s).find()``) — so this is the executor semantics
without paying a Spark job per example; the native-plan wiring itself is
asserted once in test_lowering_matrix.py.
"""

import re
import string

import pytest
from hypothesis import HealthCheck, assume, given, settings
from hypothesis import strategies as st

# grammar alphabets: include regex metacharacters as literals-in-class,
# '-' (range maker), ']' (class-literal rules differ), '\r' and '\n'
# (line-terminator semantics are the classic Java/Python '.'/'$' delta)
_LIT = list("abc01 _")
_CLASS_ATOMS = ["a", "b", "c", "0", "1", "a-c", "0-1", "_", "-", "]", "^", "?", "(", "P", "<", "[", "&"]
_ESCAPES = [
    r"\d", r"\w", r"\s", r"\D", r"\W", r"\S", r"\b", r"\v",
    r"\.", r"\\", r"\]", r"\[",
]
_QUANTS = ["", "", "", "*", "+", "?", "{1,2}", "{2}", "*?", "+?"]


@st.composite
def _charclass(draw):
    neg = draw(st.booleans())
    atoms = draw(st.lists(st.sampled_from(_CLASS_ATOMS), min_size=1, max_size=4))
    return "[" + ("^" if neg else "") + "".join(atoms) + "]"


@st.composite
def _atom(draw, depth):
    kinds = ["lit", "esc", "class", "dot"]
    if depth < 2:
        kinds += ["group", "ncgroup", "named"]
    kind = draw(st.sampled_from(kinds))
    if kind == "lit":
        return draw(st.sampled_from(_LIT))
    if kind == "esc":
        return draw(st.sampled_from(_ESCAPES))
    if kind == "class":
        return draw(_charclass())
    if kind == "dot":
        return "."
    inner = draw(_expr(depth + 1))
    if kind == "group":
        return "(" + inner + ")"
    if kind == "ncgroup":
        return "(?:" + inner + ")"
    name = draw(st.sampled_from(["g1", "name", "my_g", "x"]))
    return "(?P<" + name + ">" + inner + ")"


@st.composite
def _expr(draw, depth=0):
    n = draw(st.integers(min_value=1, max_value=4))
    parts = []
    for _ in range(n):
        a = draw(_atom(depth))
        q = draw(st.sampled_from(_QUANTS))
        # quantifying a bare quantifiable atom only (avoid 'a**')
        parts.append(a + q)
    body = "".join(parts)
    if draw(st.booleans()) and depth < 2:
        body = body + "|" + draw(_expr(depth + 1))
    return body


@st.composite
def _pattern(draw):
    body = draw(_expr())
    prefix = draw(st.sampled_from(["", "", "", "(?i)", "(?s)", "(?m)"]))
    suffix = draw(st.sampled_from(["", "", "$", r"\Z"]))
    return prefix + body + suffix


# non-ASCII digits (Arabic-Indic, full-width), spaces (NBSP, em space,
# ideographic), letters (Latin, the case-folding odd ones İ ı ſ and the
# KELVIN SIGN, Greek, CJK) and a superscript digit, which Python's
# Unicode \d/\s/\w/IGNORECASE treat differently from Java's defaults
_SUBJECT_CHARS = list("abc01 _]-P<\r\n.") + list(
    "\u0661\uff11\u00a0\u2003\u3000\u00e9\u0130\u0131\u017f\u212a\u03a9\u4e2d\u00b2"
)
_EDGE_SUBJECTS = ["", "\n", "a\n", "a\r", "abc", "a-c", "]", "P", "a\rb"]


@pytest.mark.usefixtures("spark")
@settings(
    max_examples=300,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(data=st.data())
def test_translated_patterns_agree_with_kernel(spark, data):
    from py4j.protocol import Py4JJavaError

    from valideer_spark.plans.lowering import translate_python_regex

    pat = data.draw(_pattern())
    try:
        cre = re.compile(pat)
    except re.error:
        assume(False)  # grammar produced an invalid Python pattern: skip
    translated = translate_python_regex(pat)
    if translated is None:
        return  # kernel fallback: always safe

    jvm = spark._jvm
    try:
        jpat = jvm.java.util.regex.Pattern.compile(translated)
    except Py4JJavaError as e:
        raise AssertionError(
            "translator accepted %r -> %r but Java rejects it "
            "(would throw PatternSyntaxException on the executors): %s"
            % (pat, translated, e)
        ) from None

    subjects = data.draw(
        st.lists(
            st.text(alphabet=_SUBJECT_CHARS, max_size=6),
            min_size=5,
            max_size=10,
        )
    ) + _EDGE_SUBJECTS
    for s in subjects:
        py = cre.match(s) is not None
        jv = bool(jpat.matcher(s).find())
        assert py == jv, (
            "dialect mismatch on pattern %r (java %r) subject %r: "
            "python re.match=%s, java find=%s" % (pat, translated, s, py, jv)
        )


# Every construct translate_python_regex spells differently for Java, on
# its own, inside a class and negated, plus IGNORECASE over them and over
# the ASCII letters (one alternation; each letter is then checked on the
# alternation's matches): compared with CPython on every code point.
_SHORTHANDS = [r"\d", r"\D", r"\w", r"\W", r"\s", r"\S", r"\v"]
_ASCII_LETTERS = "(?:" + "|".join(string.ascii_letters) + ")"
_CODE_POINT_PROBES = (
    _SHORTHANDS
    + [r"[\d]", r"[\D]", r"[^\d]", r"[^\D]", r"[\w-]", r"[^\w]", r"[\s]", r"[^\s]"]
    + ["(?i)" + p for p in _SHORTHANDS + [_ASCII_LETTERS]]
)


def test_translated_classes_agree_on_every_code_point(spark):
    r"""Exhaustive over U+0000..U+10FFFF (surrogates excluded: Spark strings
    are UTF-8). The only allowed disagreements are code points unassigned
    in either Unicode version, the JVM's (Java 17: Unicode 13) or
    CPython's (3.11: Unicode 14): the 10 Tangsa digits for \d."""
    import unicodedata

    from pyspark.sql import functions as F

    from valideer_spark.plans.lowering import translate_python_regex

    java = [translate_python_regex(p) for p in _CODE_POINT_PROBES]
    assert None not in java

    # every probe matches one character, so scanning all of them as one
    # string finds each code point it matches once
    text = "".join(chr(c) for c in range(0x110000) if not 0xD800 <= c <= 0xDFFF)
    majority, expected = [], []
    for p in _CODE_POINT_PROBES:
        rx = re.compile(p)
        hits = rx.findall(text)
        # each probe is compared on its minority side: matches, or misses
        # when most code points match
        majority.append(len(hits) > len(text) // 2)
        expected.append({ord(c) for c in (rx.sub("", text) if majority[-1] else hits)})

    cp = F.col("id")
    # a leading "A" keeps a decoded U+FEFF from being read as a byte order mark
    utf32 = F.unhex(F.concat(F.lit("00000041"), F.lpad(F.hex(cp), 8, "0")))
    s = F.substring(F.decode(utf32, "UTF-32"), 2, 1)
    flagged = (
        spark.range(0x110000)
        .filter(~cp.between(0xD800, 0xDFFF))
        .select(
            cp.alias("cp"),
            s.rlike(r"^\p{Cn}").alias("jvm_unassigned"),
            F.array_compact(
                F.array(
                    *[
                        F.when(s.rlike(j) != F.lit(m), F.lit(k))
                        for k, (j, m) in enumerate(zip(java, majority))
                    ]
                )
            ).alias("minority"),
        )
        .filter(F.col("jvm_unassigned") | (F.size("minority") > 0))
        .collect()
    )
    actual = [set() for _ in java]
    jvm_unassigned = set()
    for r in flagged:
        if r.jvm_unassigned:
            jvm_unassigned.add(r.cp)
        for k in r.minority:
            actual[k].add(r.cp)
    assert len(jvm_unassigned) > 800_000  # the decode reached every plane

    def assigned(c):
        return c not in jvm_unassigned and unicodedata.category(chr(c)) != "Cn"

    for k, p in enumerate(_CODE_POINT_PROBES):
        differ = sorted(c for c in expected[k] ^ actual[k] if assigned(c))
        assert not differ, "%r (java %r) disagrees on %s" % (
            p, java[k], ", ".join("U+%04X" % c for c in differ[:10])
        )

    # each letter on its own, over every code point the alternation matches
    folded = expected[_CODE_POINT_PROBES.index("(?i)" + _ASCII_LETTERS)]
    assert len(folded) > len(string.ascii_letters)  # İ ı ſ K fold too
    compile_java = spark._jvm.java.util.regex.Pattern.compile
    for letter in string.ascii_letters:
        py = re.compile("(?i)" + letter)
        jv = compile_java(translate_python_regex("(?i)" + letter))
        for c in folded:
            assert bool(py.match(chr(c))) == jv.matcher(chr(c)).find(), (
                letter, "U+%04X" % c
            )
