"""Seeded git history generator and its numstat oracle.

The generator writes `git fast-import` streams: one base history per repo and
a series of pre-generated day-2 batches that each continue the repo's `main`
branch. The same seed gives byte-identical streams and therefore the same
commit SHAs. The histories cover the parser corners at volume: merge commits,
renames (`{a => b}` in numstat), binary files (`-` numstat), paths with
spaces, annotated and lightweight tags, and commits whose author e-mail the
system's validator rejects.

The oracle reads a repo back through `git log --numstat` and computes counts
and sums with its own parser, independent of the system under test.

    python3 perfbench/gitgen.py oracle <repo>...   # prints one JSON object
"""

import json
import os
import random
import re
import subprocess
import sys

LOG_FORMAT = "COMMIT_START%n%H%n%ae%n%an%n%ct%n%P%n%s%nCOMMIT_MSG_END"
BASE_TIME = 1_600_000_000
EXTS = ["ts", "py", "go", "rs", "java", "scala", "md", "json", "sh", "c"]
DIRS = ["src", "lib", "docs", "test", "src/core", "tools/build scripts"]
WORDS = ("alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu "
         "nu xi omicron pi rho sigma tau upsilon phi chi psi omega").split()


def _authors(rng):
    out = []
    for i in range(24):
        name = f"{rng.choice(WORDS).title()} {rng.choice(WORDS).title()}{i}"
        out.append((name, f"dev{i}@example.org"))
    # One e-mail committing under two names.
    out.append((out[0][0] + " Jr", out[0][1]))
    return out


def _quote(path):
    return '"' + path.replace("\\", "\\\\").replace('"', '\\"') + '"'


def _data(payload):
    return b"data %d\n" % len(payload) + payload + b"\n"


class _Repo:
    """In-memory model of one repo's tree, advanced commit by commit."""

    def __init__(self, rng, name):
        self.rng = rng
        self.name = name
        self.files = {}  # path -> list of lines (str) or bytes for binaries
        self.authors = _authors(rng)
        self.n = 0
        self.tag_n = 0

    def _new_path(self):
        rng = self.rng
        stem = f"{rng.choice(WORDS)}_{rng.randrange(10_000)}"
        if rng.random() < 0.06:
            stem = f"{rng.choice(WORDS)} {stem}"  # a single embedded space
        return f"{rng.choice(DIRS)}/{stem}.{rng.choice(EXTS)}"

    def _text(self, k):
        rng = self.rng
        return [" ".join(rng.choice(WORDS) for _ in range(6)) for _ in range(k)]

    def _changes(self):
        """One commit's tree edits: list of ('M', path, content) / ('R', old, new)."""
        rng = self.rng
        edits = []
        touched = set()
        for _ in range(rng.randint(1, 4)):
            roll = rng.random()
            live = [p for p in self.files if p not in touched]
            if not live or roll < 0.25:
                path = self._new_path()
                if path in self.files or path in touched:
                    continue
                if rng.random() < 0.05:
                    content = bytes(rng.randrange(256) for _ in range(64)) + b"\x00"
                else:
                    content = self._text(rng.randint(3, 40))
            elif roll < 0.32:
                old = rng.choice(sorted(live))
                new = os.path.dirname(old) + "/" + self._new_path().rsplit("/", 1)[1]
                if new in self.files or new in touched:
                    continue
                edits.append(("R", old, new))
                self.files[new] = self.files.pop(old)
                touched.update((old, new))
                continue
            else:
                path = rng.choice(sorted(live))
                old = self.files[path]
                if isinstance(old, bytes):
                    content = bytes(rng.randrange(256) for _ in range(64)) + b"\x00"
                else:
                    content = list(old)
                    for _ in range(rng.randint(1, 5)):
                        i = rng.randrange(len(content) + 1)
                        if content and rng.random() < 0.4:
                            del content[min(i, len(content) - 1)]
                        else:
                            content.insert(i, self._text(1)[0])
                    if not content:
                        content = self._text(1)
            self.files[path] = content
            touched.add(path)
            edits.append(("M", path, content))
        return edits

    def _ident(self, invalid):
        name, email = self.rng.choice(self.authors)
        if invalid:
            email = "not-an-email"
        return b"%s <%s> %d +0000" % (name.encode(), email.encode(),
                                      BASE_TIME + self.n * 3600 + self.rng.randrange(3000))

    def commit_block(self, ref, mark, parent, merge, edits, msg):
        out = [b"commit %s\n" % ref.encode(), b"mark :%d\n" % mark]
        invalid = self.rng.random() < 0.01
        ident = self._ident(invalid)
        out += [b"author " + ident + b"\n", b"committer " + ident + b"\n"]
        out.append(_data(msg.encode()))
        if parent:
            out.append(b"from %s\n" % parent.encode())
        if merge:
            out.append(b"merge %s\n" % merge.encode())
        for e in edits:
            if e[0] == "R":
                out.append(b"R %s %s\n" % (_quote(e[1]).encode(), _quote(e[2]).encode()))
            else:
                content = e[2] if isinstance(e[2], bytes) else ("\n".join(e[2]) + "\n").encode()
                out.append(b"M 100644 inline %s\n" % _quote(e[1]).encode())
                out.append(_data(content))
        out.append(b"\n")
        self.n += 1
        return b"".join(out)

    def stream(self, n_commits, first_parent):
        """A fast-import stream of about n_commits commits on main.

        `first_parent` is the parent of the first commit (None for a root)."""
        rng = self.rng
        out = []
        mark = 0
        head = first_parent
        while mark < n_commits:
            mark += 1
            msg = f"{rng.choice(WORDS)} {rng.choice(WORDS)} #{self.n}"
            if head is not None and rng.random() < 0.04 and mark + 1 < n_commits:
                # A side-branch commit merged straight back: a 2-parent merge
                # whose tree equals the side commit's tree.
                edits = self._changes()
                out.append(self.commit_block("refs/heads/side", mark, head, None,
                                             edits, "side " + msg))
                side = f":{mark}"
                mark += 1
                out.append(self.commit_block("refs/heads/main", mark, head, side,
                                             edits, f"Merge side into main #{self.n}"))
            else:
                out.append(self.commit_block("refs/heads/main", mark, head, None,
                                             self._changes(), msg))
            head = f":{mark}"
            if rng.random() < 0.02:
                self.tag_n += 1
                tag = f"v{self.tag_n}.{rng.randrange(10)}"
                if rng.random() < 0.5:
                    tagger = self._ident(False)
                    body = f"Release {tag}\n\n{' '.join(self._text(1))}\n"
                    out.append(b"tag %s\nfrom %s\ntagger %s\n" % (tag.encode(), head.encode(), tagger))
                    out.append(_data(body.encode()))
                else:
                    out.append(b"reset refs/tags/%s\nfrom %s\n\n" % (tag.encode(), head.encode()))
        return b"".join(out)


def repo_sizes(total, n_repos):
    """Skewed sizes: repo i gets a share proportional to 1 / (i + 1)."""
    w = [1 / (i + 1) for i in range(n_repos)]
    return [max(20, round(total * x / sum(w))) for x in w]


def generate(seed, total_commits, n_repos, n_batches, batch_share):
    """Returns [(name, base_stream, [batch_stream...])] for each repo."""
    out = []
    for i, size in enumerate(repo_sizes(total_commits, n_repos)):
        repo = _Repo(random.Random(f"{seed}/{i}"), f"repo{i}")
        base = repo.stream(size, None)
        step = max(2, round(size * batch_share))
        batches = [repo.stream(step, "refs/heads/main^0") for _ in range(n_batches)]
        out.append((repo.name, base, batches))
    return out


def git(repo, *args, stdin=None):
    return subprocess.run(["git", "-C", repo, *args], input=stdin, check=True,
                          stdout=subprocess.PIPE, stderr=subprocess.PIPE).stdout


def materialize(streams, root):
    """Creates one git repo per stream under root/repos, and writes each
    day-2 batch to root/batches/<repo>/<k>.fi. Returns the repo paths."""
    paths = []
    for name, base, batches in streams:
        repo = os.path.join(root, "repos", name)
        os.makedirs(repo)
        git(repo, "init", "-q", "-b", "main")
        git(repo, "fast-import", "--quiet", stdin=base)
        git(repo, "read-tree", "main")
        bdir = os.path.join(root, "batches", name)
        os.makedirs(bdir)
        for k, b in enumerate(batches):
            with open(os.path.join(bdir, f"{k:04d}.fi"), "wb") as f:
                f.write(b)
        paths.append(repo)
    return paths


# ---- oracle ---------------------------------------------------------------

_RENAME = re.compile(r"\{[^}]*?\s*=>\s*([^}]*?)\}")
_EMAIL = re.compile(r"^[^\s@]+@[^\s@]+\.[^\s@]+$")


def oracle(repo):
    """Counts and sums over one repo's `git log --numstat`."""
    raw = git(repo, "log", "main", f"--pretty=format:{LOG_FORMAT}", "--numstat").decode()
    o = dict(commits=0, rejects=0, merges=0, additions=0, deletions=0,
             file_changes=0, authors=set(), log_bytes=len(raw.encode()))
    for block in raw.split("COMMIT_START\n"):
        lines = block.split("\n")
        if len(lines) < 6:
            continue
        if not _EMAIL.match(lines[1]):
            o["rejects"] += 1
            continue
        o["commits"] += 1
        o["merges"] += len(lines[4].split()) > 1
        o["authors"].add(lines[1])
        paths = set()
        for line in lines[7:]:
            f = line.split()
            if len(f) < 3:
                continue
            o["additions"] += int(f[0]) if f[0].isdigit() else 0
            o["deletions"] += int(f[1]) if f[1].isdigit() else 0
            paths.add(_RENAME.sub(r"\1", " ".join(f[2:])))
        o["file_changes"] += len(paths)
    o["authors"] = sorted(o["authors"])
    tags = git(repo, "for-each-ref", "refs/tags", "--format=%(objecttype)").decode().split()
    o["tags"] = len(tags)
    o["annotated_tags"] = tags.count("tag")
    return o


def combine(oracles):
    """Store-wide totals over several repos' oracles."""
    keys = ["commits", "rejects", "merges", "additions", "deletions",
            "file_changes", "tags", "annotated_tags"]
    out = {k: sum(o[k] for o in oracles) for k in keys}
    out["authors"] = len(set().union(*(o["authors"] for o in oracles)))
    out["repos"] = len(oracles)
    return out


if __name__ == "__main__":
    if sys.argv[1:2] == ["oracle"]:
        print(json.dumps({os.path.basename(r): oracle(r) for r in sys.argv[2:]}))
    else:
        sys.exit("usage: gitgen.py oracle <repo>...")
