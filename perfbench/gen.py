"""Seeded input generator. The engine receives only the documents made here.

The corpus is the engine's synth corpus (``fixtures.synth_corpus_rows``, a
deterministic function of ``n_docs``), so its graph is known analytically
(``synth_model.synth_expected_graph``). The seed picks the corpus size within
a narrow band and the text of the padding.

Padding: every module's first code span is prefixed by a module docstring,
comment lines and bare string-literal statements, all of whose text reads
like calls (``fn_3()``, ``C12().run()``). The graph must not change: text in
docstrings, comments and string literals is not code. Most padding lines are
string statements: the extraction kernel blanks each of them and runs its
statement patterns over it as a logical line of its own, which costs it about
12 times as much as a comment or docstring line (about 22 us against 2 us a
line, single-threaded).
"""

from __future__ import annotations

import random
from dataclasses import dataclass

from code_graph_rag_spark.fixtures import _doc, code, synth_corpus_rows
from code_graph_rag_spark.synth_model import _mod_qn

FUNCS_PER_DOC = 8
PKG_FANOUT = 50
BASE_DOCS = 300

_FAKE_CALLS = (
    [f"fn_{k}()" for k in range(FUNCS_PER_DOC)]
    + [f"C{c}().run()" for c in range(97)]
    + [f"B{b}.step(self)" for b in range(7)]
    + ["numpy.zeros(3)", "self.step()"]
)


def mod_qn(i: int) -> str:
    return _mod_qn(i, PKG_FANOUT)


def _padding(rng: random.Random, n_lines: int) -> str:
    """``n_lines`` lines that mention calls but hold no code: a docstring
    and a comment block of ``n_lines // 16`` lines each, then one string
    statement a line."""
    if n_lines == 0:
        return ""
    calls = rng.choices(_FAKE_CALLS, k=n_lines)
    k = n_lines // 16
    doc = ['"""Module notes: see ' + calls[0], *calls[1 : k - 1], '"""']
    comments = [f"# then {c}" for c in calls[k : 2 * k]]
    strings = [f'"{c}"' for c in calls[2 * k :]]
    return "\n".join(doc + comments + strings) + "\n"


@dataclass
class Corpus:
    n_docs: int
    rows: list[dict]


def make_corpus(seed: int, pad_lines: int) -> Corpus:
    """The synth corpus of ``BASE_DOCS + seed % 9`` modules in
    ``PKG_FANOUT`` packages, each module padded with ``pad_lines`` seeded
    lines."""
    rng = random.Random(seed)
    n_docs = BASE_DOCS + seed % 9
    rows = synth_corpus_rows(n_docs, FUNCS_PER_DOC, PKG_FANOUT)
    if pad_lines:
        for row in rows:
            first = row["spans"][0]
            if row["doc_id"].endswith("__init__.py"):
                continue
            first["text"] = _padding(rng, pad_lines) + first["text"]
    return Corpus(n_docs, rows)


@dataclass(frozen=True)
class Leaf:
    """A leaf module with unique names: ``go_<tag>()`` calls the imported
    ``fn_0`` of module ``target``. Its name-based blast radius is itself.
    It adds 3 nodes (File, Module, Function) and 5 edges (CONTAINS_FILE,
    CONTAINS_MODULE, DEFINES, IMPORTS, CALLS)."""

    tag: str
    pkg: int
    target: int

    @property
    def path(self) -> str:
        return f"synth/pkg{self.pkg:03d}/leaf_{self.tag}.py"

    @property
    def qn(self) -> str:
        return f"synth.pkg{self.pkg:03d}.leaf_{self.tag}"

    def doc(self) -> dict:
        text = (
            f"from {mod_qn(self.target)} import fn_0\n\n"
            f"def go_{self.tag}():\n    fn_0()\n"
        )
        return _doc(self.path, code(text))

    def nodes(self) -> list[tuple]:
        return [
            ("File", self.path, f"leaf_{self.tag}.py"),
            ("Module", self.qn, f"leaf_{self.tag}"),
            ("Function", f"{self.qn}.go_{self.tag}", f"go_{self.tag}"),
        ]

    def edges(self) -> list[tuple]:
        pkg = f"synth.pkg{self.pkg:03d}"
        fn = f"{self.qn}.go_{self.tag}"
        tgt = mod_qn(self.target)
        return [
            (pkg, "CONTAINS_FILE", self.path, "Package", "File"),
            (pkg, "CONTAINS_MODULE", self.qn, "Package", "Module"),
            (self.qn, "DEFINES", fn, "Module", "Function"),
            (self.qn, "IMPORTS", tgt, "Module", "Module"),
            (fn, "CALLS", f"{tgt}.fn_0", "Function", "Function"),
        ]


def make_leaf(seed: int, n_docs: int) -> Leaf:
    """The seeded leaf doc the traced run adds."""
    rng = random.Random(seed * 1_000_003 + 17)
    tag = "".join(rng.choice("abcdefghjkmnpqrstuvwxyz") for _ in range(8))
    return Leaf(tag, rng.randrange(min(PKG_FANOUT, n_docs)), rng.randrange(n_docs))
