"""The two build corpora, as ``source_files`` rows
``(repo, path, commit, lang, content)``.

* ``pyspark_corpus``: real code. A fixed slice of the installed PySpark
  package is the root project; the installed ``py4j`` (which PySpark
  imports) and ``jmespath`` (which nothing imports) are dependency repos, so
  the import closure keeps part of one and drops the other.
* ``synthetic_corpus``: a seeded, link-heavy corpus. Project repos import
  each other and two dependency repos through aliases, attribute chains and
  ``from ... import *`` re-export chains, with Zipf-skewed targets; two
  further dependency repos are never imported. It returns the expected
  answers of the SPARQL checks next to the rows.

Only the row order depends on the seed for the real corpus; the synthetic
corpus's content depends on it, its shape (file, class and import counts,
hierarchy and re-export depths) does not.
"""

from __future__ import annotations

import glob
import hashlib
import os
import random
from dataclasses import dataclass

# root-project slice of PySpark: the gateway/config modules plus five whole
# subpackages (errors, resource, logger, core, streaming)
PYSPARK_SLICE = (
    "pyspark/java_gateway.py",
    "pyspark/conf.py",
    "pyspark/storagelevel.py",
    "pyspark/statcounter.py",
    "pyspark/resultiterable.py",
    "pyspark/errors/",
    "pyspark/resource/",
    "pyspark/logger/",
    "pyspark/core/",
    "pyspark/streaming/",
)
PYSPARK_ROOTS = ["pyspark"]
PYSPARK_UNREFERENCED = ["jmespath"]


def _commit(repo: str, path: str, content: str) -> str:
    return "c" + hashlib.sha256(
        f"{repo}\n{path}\n{content}".encode()).hexdigest()[:39]


def _package_rows(module, repo: str, keep=None) -> list[tuple]:
    pkg_dir = os.path.dirname(module.__file__)
    base = os.path.dirname(pkg_dir)
    rows = []
    for p in sorted(glob.glob(os.path.join(pkg_dir, "**", "*.py"),
                              recursive=True)):
        rel = os.path.relpath(p, base).replace(os.sep, "/")
        if keep and not rel.startswith(keep):
            continue
        with open(p, encoding="utf-8") as f:
            content = f.read()
        rows.append((repo, rel, _commit(repo, rel, content), "python", content))
    return rows


def pyspark_corpus(seed: int) -> list[tuple]:
    """The real-code corpus in a seed-permuted order."""
    import jmespath
    import py4j
    import pyspark

    rows = (_package_rows(pyspark, "pyspark", PYSPARK_SLICE)
            + _package_rows(py4j, "py4j")
            + _package_rows(jmespath, "jmespath"))
    random.Random(seed).shuffle(rows)
    return rows


# ---------------------------------------------------------------------------
# synthetic link-heavy corpus
# ---------------------------------------------------------------------------

N_PROJECTS = 20
MODULES_PER_PROJECT = 5   # core, api, facade + leaf modules
LEAF_CLASSES = 3
DEP_MODULES = 4
UNUSED_DEPS = ("deprecated_a", "deprecated_b")
METHODS = ("run", "close", "describe", "validate", "reset")


@dataclass
class SyntheticCorpus:
    rows: list[tuple]
    roots: list[str]             # project repos (closure roots)
    unreferenced: list[str]      # dependency repos nothing imports
    libraries: set[str]          # top-level packages that survive closure
    # (class, superclass) and (class, ancestor) simple-name pairs; the
    # ``*_required`` subsets leave out the pairs whose chain includes a
    # base named only through ``from ... import *`` (see NOTES.md)
    extends: set[tuple[str, str]]
    extends_required: set[tuple[str, str]]
    ancestors: set[tuple[str, str]]
    ancestors_required: set[tuple[str, str]]


def _zipf_pick(rng: random.Random, items: list, s: float = 1.1):
    weights = [1.0 / (i + 1) ** s for i in range(len(items))]
    return rng.choices(items, weights)[0]


def _class_src(name: str, base: str | None, methods: list[str],
               fields: list[str], doc: str) -> str:
    lines = [f"class {name}({base}):" if base else f"class {name}:",
             f'    """{doc}"""', "",
             "    def __init__(self, value=None):"]
    if base:
        lines.append("        super().__init__(value)")
    lines += [f"        self.{fld} = value" for fld in fields]
    for m in methods:
        lines += ["", f"    def {m}(self, *args):",
                  f"        return self.{fields[0]}"]
    return "\n".join(lines) + "\n"


def synthetic_corpus(seed: int) -> SyntheticCorpus:
    """Seeded link-heavy corpus with its expected SPARQL answers.

    Class hierarchy levels, each class extending one class of the level
    above: ``depbase`` (level 0) <- ``depcore`` (1) <- project ``core``
    modules (2) <- project leaf modules (3). Leaf modules reach their bases
    three ways, chosen per class: an aliased ``from ... import ... as``, an
    ``import a.b as m`` attribute chain, or a name re-exported through the
    project's ``facade -> api -> core`` wildcard chain.
    """
    rng = random.Random(seed)
    tag = f"{rng.randrange(16 ** 4):04x}"  # seed-specific name part
    files: dict[tuple[str, str], str] = {}
    # class -> (module, base class or None, True if the base is named only
    # through a wildcard import)
    classes: dict[str, tuple[str, str | None, bool]] = {}
    imports: dict[str, set[str]] = {}  # module -> modules it imports

    def add_class(out: list[str], module: str, name: str,
                  base_ref: str | None = None, base: str | None = None,
                  wildcard: bool = False) -> None:
        methods = rng.sample(METHODS, 2)
        fields = [f"f_{name.lower()}_{i}" for i in range(rng.randint(1, 2))]
        out.append(_class_src(name, base_ref, methods, fields,
                              f"{name} of corpus {tag}."))
        classes[name] = (module, base, wildcard)

    def add_module(repo: str, module: str, header: list[str],
                   body: list[str], imported: set[str]) -> None:
        path = module.replace(".", "/") + ".py"
        files[(repo, path)] = "\n".join(header + [""] + body)
        imports[module] = imported

    def add_package(repo: str, package: str, doc: str) -> None:
        files[(repo, f"{package}/__init__.py")] = f'"""{doc}"""\n'

    # level 0 (depbase) and the never-imported dependency repos
    level0 = []
    for pkg in ("depbase",) + UNUSED_DEPS:
        add_package(f"synth/{pkg}", pkg, f"Dependency {pkg}.")
        for m in range(DEP_MODULES):
            module, body = f"{pkg}.m{m}", []
            for k in range(2):
                name = f"{pkg.capitalize().replace('_', '')}{tag}M{m}K{k}"
                add_class(body, module, name)
                if pkg == "depbase":
                    level0.append((module, name))
            add_module(f"synth/{pkg}", module, [f'"""{module}."""'], body,
                       set())

    # level 1 (depcore): aliased imports of level-0 classes
    level1 = []
    add_package("synth/depcore", "depcore", "Core dependency.")
    for m in range(DEP_MODULES):
        module, header, body, imported = f"depcore.m{m}", [], [], set()
        for k in range(2):
            mod, base = rng.choice(level0)
            header.append(f"from {mod} import {base} as _B{k}")
            imported.add(mod)
            name = f"Core{tag}M{m}K{k}"
            add_class(body, module, name, f"_B{k}", base)
            level1.append((module, name))
        add_module("synth/depcore", module, header, body, imported)

    # level 2: project core modules, re-exported by api and facade
    projects = [f"proj{p:02d}" for p in range(N_PROJECTS)]
    level2 = []  # (project, class)
    for proj in projects:
        repo = f"synth/{proj}"
        add_package(repo, proj, f"Project {proj}.")
        module, header, body, imported = f"{proj}.core", [], [], set()
        for k in range(2):
            mod, base = _zipf_pick(rng, level1)
            header.append(f"from {mod} import {base} as _C{k}")
            imported.add(mod)
            name = f"P{proj[-2:]}{tag}K{k}"
            add_class(body, module, name, f"_C{k}", base)
            level2.append((proj, name))
        add_module(repo, module, header, body, imported)
        add_module(repo, f"{proj}.api", [f"from {proj}.core import *"], [],
                   {f"{proj}.core"})
        add_module(repo, f"{proj}.facade", [f"from {proj}.api import *"], [],
                   {f"{proj}.api"})

    # level 3: leaf modules; bases are Zipf-skewed project core classes of
    # any project (cross-repo links), each reached one of three ways
    for proj in projects:
        repo = f"synth/{proj}"
        for leaf in range(MODULES_PER_PROJECT - 3):
            module, header, body, imported = f"{proj}.leaf{leaf}", [], [], set()
            names = []
            for k in range(LEAF_CLASSES):
                owner, base = _zipf_pick(rng, level2)
                how = rng.randrange(3)
                if how == 0:
                    header.append(f"from {owner}.core import {base} as _L{k}")
                    ref = f"_L{k}"
                    imported.add(f"{owner}.core")
                elif how == 1:
                    header.append(f"import {owner}.core as _m{k}")
                    ref = f"_m{k}.{base}"
                    imported.add(f"{owner}.core")
                else:
                    header.append(f"from {owner}.facade import *")
                    ref = base
                    imported.add(f"{owner}.facade")
                name = f"Leaf{proj[-2:]}{tag}L{leaf}K{k}"
                add_class(body, module, name, ref, base, wildcard=how == 2)
                names.append(name)
            body.append(f"def make_{leaf}():\n"
                        f"    return [{', '.join(n + '()' for n in names)}]\n")
            add_module(repo, module, header, body, imported)

    rows = [(repo, path, _commit(repo, path, content), "python", content)
            for (repo, path), content in files.items()]
    rng.shuffle(rows)

    # what the import closure keeps: every project module, and whatever
    # they import, transitively
    kept = {m for m in imports if m.split(".")[0] in projects}
    todo = list(kept)
    while todo:
        for m in imports.get(todo.pop(), ()):
            if m not in kept:
                kept.add(m)
                todo.append(m)
    live = {c: v for c, v in classes.items() if v[0] in kept}
    extends = {(c, b) for c, (_m, b, _w) in live.items() if b}
    extends_required = {(c, b) for c, (_m, b, w) in live.items()
                        if b and not w}
    ancestors, ancestors_required = set(), set()
    for c in live:
        up, required = c, True
        while live[up][1]:
            required = required and not live[up][2]
            up = live[up][1]
            ancestors.add((c, up))
            if required:
                ancestors_required.add((c, up))
    return SyntheticCorpus(
        rows=rows,
        roots=[f"synth/{p}" for p in projects],
        unreferenced=[f"synth/{d}" for d in UNUSED_DEPS],
        libraries={m.split(".")[0] for m in kept},
        extends=extends, extends_required=extends_required,
        ancestors=ancestors, ancestors_required=ancestors_required)
