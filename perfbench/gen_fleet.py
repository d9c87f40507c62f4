"""Seeded fleet of real git repositories for the hub_ingest workload.

Each repository is a bare origin written with `git fast-import`, so its
commit ids depend only on the seed. manifest.json lists every repository
and what the seed implies.

The fleet's shape comes from the Hub census in BASELINE.md (June 2024
dump, 1,088,879 repositories) where the repository has one; the other
values are marked unverified:

| parameter | value | source |
| --- | --- | --- |
| repositories | 60 | size of one run: the benchmark's time budget |
| commits per repository | mean 7.0, Pareto tail (alpha 1.2), cap 1,500 | mean: 7,803,628 commits / 1,088,879 repos = 7.17; cap: the recommended `max_num_commits`; tail index unverified |
| files per commit | 3 | 21,259,405 modified files / 7,803,628 commits = 2.72 |
| files per repository (listing) | mean 57.5, 15% with one file, Pareto tail (alpha 0.8), cap 10,000 | mean: 63,039,567 repo files / 1,088,879 repos = 57.9; one-file share: 14.8% (metrics.html); cap: `max_num_files`; the tail index is fitted to those two |
| datasets among models and datasets | 11 of 60 (18%) | 149,828 / (681,682 + 149,828) = 18.0% |
| owners | 30 orgs, Zipf exponent 0.15 | 570,492 authors / 1,088,879 repos = 0.52 per repo; top org 2,904 / 61,508 models = 4.7% (this exponent gives 4.8%) |
| discussions | 8 repos with 2 each (0.27 per repo) | 273,191 discussions / 1,088,879 repos = 0.25 |
| events per discussion | 2 | 518,924 events / 273,191 discussions = 1.90 |
| tags per repository | 5 | 5,111,538 tags_in_repo / 1,088,879 repos = 4.69 |
| fresh repositories in a refresh | 6 of 60, with 1-3 new commits | the 10% share is the workload's definition; the new-commit counts are unverified |
| lines per file | 20 | unverified |

Sizes are taken at evenly spaced quantiles of each distribution and the
seed only decides which repository gets which size, so every seed gives
the same totals.

History of every repository: commit 1 adds README.md, f0.txt and
f1.txt; commit c >= 2 rewrites f0.txt, f1.txt and f2.txt. A fresh
repository has a second origin that holds the same history plus its new
commits.
"""
import json
import os
import subprocess

import numpy as np

N_REPOS = 60
N_ORGS = 30
ORG_ZIPF = 0.15
COMMITS_ALPHA, COMMITS_SCALE, COMMITS_CAP = 1.2, 2.25, 1500
FILES_ALPHA, FILES_ONE_SHARE, FILES_CAP = 0.8, 0.148, 10000
N_DATASETS = 11
N_DISCUSSED, DISCUSSIONS_EACH, EVENTS_EACH = 8, 2, 2
N_TAGS = 5
N_FRESH = N_REPOS // 10
LINES = 20
T0 = 1_690_000_000  # first author date
T_REFRESH = 1_750_000_000


def _git(*args, stdin=None):
    env = dict(os.environ, GIT_CONFIG_NOSYSTEM="1", GIT_CONFIG_GLOBAL=os.devnull)
    subprocess.run(["git", *args], input=stdin, check=True, env=env,
                   stdout=subprocess.DEVNULL, stderr=subprocess.PIPE)


def _stream(idx, user, commits):
    """fast-import stream for `commits`: list of (n, [(path, body)], epoch)"""
    out = []
    for mark, (n, files, epoch) in enumerate(commits, start=1):
        msg = f"repo{idx} c{n}\n".encode()
        out.append(b"commit refs/heads/main\n")
        out.append(f"mark :{mark}\n".encode())
        out.append(f"author {user} <{user}@local> {epoch} +0100\n".encode())
        out.append(f"committer {user} <{user}@local> {epoch + 30} +0000\n".encode())
        out.append(f"data {len(msg)}\n".encode() + msg)
        if mark > 1:
            out.append(f"from :{mark - 1}\n".encode())
        for path, body in files:
            out.append(f"M 100644 inline {path}\ndata {len(body)}\n".encode() + body + b"\n")
    return b"".join(out)


def _history(idx, n_from, n_to):
    commits = []
    for c in range(n_from, n_to + 1):
        paths = ["README.md", "f0.txt", "f1.txt"] if c == 1 else ["f0.txt", "f1.txt", "f2.txt"]
        files = [(p, "".join(f"repo{idx} commit{c} {p} line{i}\n" for i in range(LINES)).encode())
                 for p in paths]
        commits.append((c, files, T0 + idx * 1000 + c * 60))
    return commits


def _origin(path, idx, user, commits):
    _git("-c", "init.defaultBranch=main", "init", "-q", "--bare", path)
    _git("--git-dir", path, "fast-import", "--quiet", stdin=_stream(idx, user, commits))


def _quantiles(scale, alpha, cap):
    """1 + a Pareto (Lomax) variate at N_REPOS evenly spaced quantiles"""
    p = (np.arange(N_REPOS) + 0.5) / N_REPOS
    return np.minimum(cap, 1 + np.floor(scale * ((1 - p) ** (-1 / alpha) - 1))).astype(int)


def _org_counts():
    """repos per org: N_REPOS split by Zipf weights, largest remainder"""
    w = 1.0 / np.arange(1, N_ORGS + 1) ** ORG_ZIPF
    share = N_REPOS * w / w.sum()
    counts = np.floor(share).astype(int)
    counts[np.argsort(counts - share)[:N_REPOS - counts.sum()]] += 1
    return counts


def fleet(seed, out_dir):
    rng = np.random.default_rng([seed, 3])
    out_dir = os.path.abspath(out_dir)
    n_commits = rng.permutation(_quantiles(COMMITS_SCALE, COMMITS_ALPHA, COMMITS_CAP))
    files_scale = 1 / ((1 - FILES_ONE_SHARE) ** (-1 / FILES_ALPHA) - 1)
    n_files = rng.permutation(_quantiles(files_scale, FILES_ALPHA, FILES_CAP))
    orgs = rng.permutation(np.repeat(rng.permutation(N_ORGS), _org_counts()))
    order = rng.permutation(N_REPOS)
    datasets = set(int(i) for i in order[:N_DATASETS])
    discussed = set(int(i) for i in rng.permutation(N_REPOS)[:N_DISCUSSED])
    fresh = {int(i): 1 + k % 3 for k, i in enumerate(rng.permutation(N_REPOS)[:N_FRESH])}
    repos = []
    for idx in range(N_REPOS):
        user = f"user{idx % 40}"
        n = int(n_commits[idx])
        origin = os.path.join(out_dir, "origin", f"repo{idx}.git")
        _origin(origin, idx, user, _history(idx, 1, n))
        n_new, origin2 = fresh.get(idx, 0), None
        if n_new:
            origin2 = os.path.join(out_dir, "origin2", f"repo{idx}.git")
            _origin(origin2, idx, user, _history(idx, 1, n + n_new))
        repos.append({
            "idx": idx, "name": f"org{orgs[idx]}/repo{idx}", "author": f"org{orgs[idx]}",
            "type": "dataset" if idx in datasets else "model", "user": user,
            "n_commits": n, "n_new": n_new, "fresh": bool(n_new),
            "n_files": int(n_files[idx]),
            "discussions": DISCUSSIONS_EACH if idx in discussed else 0,
            "origin": origin, "origin2": origin2,
            "last_modified": T0 + idx * 37, "likes": idx % 100})
    manifest = {"repos": repos, "t_refresh": T_REFRESH,
                "watermark": T0 + N_REPOS * 37 + 1}
    with open(os.path.join(out_dir, "manifest.json"), "w") as f:
        json.dump(manifest, f)
    return manifest


def tags(idx):
    """the tags HubIngest's listing gives repository `idx`"""
    return [f"tag{(idx + 7 * k) % 40}" for k in range(N_TAGS)]


def expected(manifest):
    """Silver row counts and the M1 top-k that the fleet recipe implies."""
    repos = manifest["repos"]
    n = len(repos)
    commits = sum(r["n_commits"] for r in repos)
    new = sum(r["n_new"] for r in repos)
    discussions = sum(r["discussions"] for r in repos)
    models = {}
    for r in repos:
        if r["type"] == "model":
            models[r["author"]] = models.get(r["author"], 0) + 1
    m1 = sorted(models.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
    return {
        "import": {
            "repository": n, "model": sum(r["type"] == "model" for r in repos),
            "dataset": sum(r["type"] == "dataset" for r in repos),
            "repo_file": sum(r["n_files"] for r in repos),
            "tag": len({t for r in repos for t in tags(r["idx"])}),
            "tags_in_repo": N_TAGS * n,
            "commits": commits, "commit_parents": commits - n,
            "modified_file": 3 * commits, "files_in_commit": 3 * commits,
            "discussion": discussions, "discussion_event": EVENTS_EACH * discussions},
        "refresh": {"repository": n, "commits": commits + new,
                    "modified_file": 3 * (commits + new),
                    "files_in_commit": 3 * (commits + new)},
        "m1": [[a, c] for a, c in m1],
        "repos": n}
