"""Seeded input generators for the benchmark's workloads, and the expected
results each one implies, computed without Spark.

Every generator is a pure function of its seed (and size): it writes the
inputs under `out_dir` and returns a `Fixture` holding the CLI arguments to
run, the input row count and what the output check needs.
"""
import os
import subprocess
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# selection arithmetic shared by the head model's SQL and the oracle
H_MOD = 1000
REMOVE_BELOW = 10     # h < 10: row removed in head (1%)
CHANGE_BELOW = 30     # 10 <= h < 30: l_quantity changed in head (2%)
ADD_BELOW = 35        # 30 <= h < 35: row copied under a new key (0.5%)
LINEITEM_KEYS = "l_orderkey,l_linenumber,l_partkey,l_suppkey"

VOCAB = ("the a of and to spark line column order small sort fast value scan hash "
         "slow group batch agg filter query big key window row part table stream "
         "merge data customer vector join index shard bloom heap page cache block "
         "ledger region market supplier nation price tax ship mode return status "
         "date month year quarter total count average median range bucket sample").split()


@dataclass
class Fixture:
    kind: str                 # "diff" or "curate"
    cli_args: list
    input_rows: int
    expected: dict
    out_path: str = ""        # curate output directory
    input_ids: object = None  # curate: numpy array of input doc ids


def _git(repo, *args):
    env = dict(os.environ, GIT_AUTHOR_NAME="bench", GIT_AUTHOR_EMAIL="bench@example.com",
               GIT_COMMITTER_NAME="bench", GIT_COMMITTER_EMAIL="bench@example.com",
               GIT_AUTHOR_DATE="2020-01-01T00:00:00Z", GIT_COMMITTER_DATE="2020-01-01T00:00:00Z")
    subprocess.run(["git", "-c", "init.defaultBranch=main", *args], cwd=repo, env=env,
                   check=True, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)


def _two_commit_repo(repo, base_files, head_files):
    """A git repo whose `main` holds base_files and whose `head` branch
    overwrites them with head_files."""
    os.makedirs(repo)
    _git(repo, "init", "-q")
    for files, msg in ((base_files, "base"), (head_files, "head")):
        for rel, text in files.items():
            path = os.path.join(repo, rel)
            os.makedirs(os.path.dirname(path), exist_ok=True)
            with open(path, "w") as f:
                f.write(text)
        _git(repo, "add", "-A")
        _git(repo, "commit", "-q", "-m", msg)
        if msg == "base":
            _git(repo, "checkout", "-q", "-b", "head")


def _diff_args(model, keys, repo, extra=()):
    return ["diff", model, "--keys", keys, "--base", "main", "--head", "head",
            "--project-dir", repo, "--format", "json", *extra]


# ---------------------------------------------------------------- lineitem

def selection_hash(orderkey, linenumber, partkey, seed):
    """h in [0, H_MOD): the head model's row selector (same formula as its SQL)."""
    return (orderkey * 7919 + linenumber * 104729 + partkey * 31 + seed % 1000003) % H_MOD


def lineitem_expected(h):
    """Row counts and diff counts the head model's selection implies."""
    n = int(len(h))
    removed = int(np.count_nonzero(h < REMOVE_BELOW))
    changed = int(np.count_nonzero((h >= REMOVE_BELOW) & (h < CHANGE_BELOW)))
    added = int(np.count_nonzero((h >= CHANGE_BELOW) & (h < ADD_BELOW)))
    return {"base": n, "head": n - removed + added,
            "added": added, "removed": removed, "changed": changed}


def lineitem_columns(seed, n_rows):
    """TPC-H-shaped lineitem: 11 columns, (l_orderkey, l_linenumber) unique."""
    rng = np.random.default_rng(seed)
    per_order = rng.integers(1, 8, size=n_rows)
    ends = np.cumsum(per_order)
    n_orders = int(np.searchsorted(ends, n_rows)) + 1
    per_order = per_order[:n_orders].copy()
    per_order[-1] -= int(ends[n_orders - 1]) - n_rows
    starts = np.repeat(np.cumsum(per_order) - per_order, per_order)
    orderkey = np.repeat(np.arange(n_orders, dtype=np.int64) * 4 + 1, per_order)
    linenumber = (np.arange(n_rows) - starts + 1).astype(np.int32)
    quantity = rng.integers(1, 51, size=n_rows).astype(np.float64)
    return {
        "l_orderkey": orderkey,
        "l_partkey": rng.integers(1, 20001, size=n_rows, dtype=np.int64),
        "l_suppkey": rng.integers(1, 1001, size=n_rows, dtype=np.int64),
        "l_linenumber": linenumber,
        "l_quantity": quantity,
        "l_extendedprice": np.round(quantity * rng.integers(90000, 200000, size=n_rows) / 100.0, 2),
        "l_discount": rng.integers(0, 11, size=n_rows) / 100.0,
        "l_tax": rng.integers(0, 9, size=n_rows) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, size=n_rows)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, size=n_rows)],
        "l_shipdate": (np.datetime64("1992-01-02") +
                       rng.integers(0, 2500, size=n_rows).astype("timedelta64[D]")
                       ).astype("datetime64[us]"),
    }


LINEITEM_COLS = ("l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity, l_extendedprice, "
                 "l_discount, l_tax, l_returnflag, l_linestatus, l_shipdate")


def lineitem_models(seed):
    src = "parquet.`{{ var('src_dir') }}/lineitem.parquet`"
    base = f"select {LINEITEM_COLS}\nfrom {src}\n"
    rest = "l_extendedprice, l_discount, l_tax, l_returnflag, l_linestatus, l_shipdate"
    head = (
        f"with src as (\n  select *, pmod(l_orderkey * 7919 + l_linenumber * 104729 + "
        f"l_partkey * 31 + {seed % 1000003}, {H_MOD}) as h\n  from {src}\n)\n"
        f"select l_orderkey, l_partkey, l_suppkey, l_linenumber,\n"
        f"  case when h < {CHANGE_BELOW} then l_quantity + 1 else l_quantity end as l_quantity,\n"
        f"  {rest}\nfrom src where h >= {REMOVE_BELOW}\nunion all\n"
        f"select l_orderkey, l_partkey, l_suppkey, l_linenumber + 100 as l_linenumber, "
        f"l_quantity,\n  {rest}\nfrom src where h >= {CHANGE_BELOW} and h < {ADD_BELOW}\n")
    return base, head


def make_diff_lineitem(out_dir, seed, n_rows):
    cols = lineitem_columns(seed, n_rows)
    data_dir = os.path.join(out_dir, "data")
    os.makedirs(data_dir)
    pq.write_table(pa.table(cols), os.path.join(data_dir, "lineitem.parquet"))
    base, head = lineitem_models(seed)
    repo = os.path.join(out_dir, "project")
    _two_commit_repo(repo, {"models/lineitem_diff.sql": base}, {"models/lineitem_diff.sql": head})
    h = selection_hash(cols["l_orderkey"], cols["l_linenumber"].astype(np.int64),
                       cols["l_partkey"], seed)
    exp = lineitem_expected(h)
    return Fixture("diff", _diff_args("lineitem_diff", LINEITEM_KEYS, repo,
                                      ("--vars", f"src_dir={data_dir}")),
                   exp["base"] + exp["head"], exp)


# ---------------------------------------------------------------- curate

def corpus_texts(seed, n_base, copies):
    """`copies` seeded word-perturbed versions of each of `n_base` documents;
    copy k replaces each word with probability 0.02 * k."""
    rng = np.random.default_rng(seed)
    vocab = np.array(VOCAB)
    weights = 1.0 / np.arange(1, len(VOCAB) + 1)
    weights /= weights.sum()
    texts = []
    for _ in range(n_base):
        words = rng.choice(len(VOCAB), size=int(rng.integers(60, 160)), p=weights)
        for k in range(copies):
            w = words.copy()
            hit = rng.random(len(w)) < 0.02 * k
            w[hit] = rng.integers(0, len(VOCAB), size=int(hit.sum()))
            texts.append(" ".join(vocab[w].tolist()))
    return texts


def make_curate_corpus(out_dir, seed, n_base, copies=10, shards=4):
    texts = corpus_texts(seed, n_base, copies)
    ids = np.random.default_rng(seed + 1).permutation(len(texts)).astype(np.int64)
    os.makedirs(os.path.join(out_dir, "data"))
    in_path = os.path.join(out_dir, "data", "docs.parquet")
    pq.write_table(pa.table({"doc_id": ids, "text": texts}), in_path)
    out_path = os.path.join(out_dir, "curated")
    return Fixture("curate", ["curate", in_path, out_path, "--near-dup-mode", "auto",
                              "--shards", str(shards)],
                   len(texts), {"in_docs": len(texts)}, out_path=out_path, input_ids=ids)
