"""Output checks, independent of the program: each returns a list of
problems, empty when the output is correct."""
import glob
import json
import os

# curate summaries pinned for the documented seeds (see README.md)
CURATE_PINS_FILE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "curate_pins.json")
PINNED_FIELDS = ("in_docs", "kept_docs", "bins", "near_dup_path", "near_dup_removed")


def check_diff(stdout_text, expected):
    try:
        doc = json.loads(stdout_text)
        got = dict(doc["rowcounts"])
        rd = doc["row_diff"]
        got.update(added=rd["added"], removed=rd["removed"], changed=rd["changed"])
    except (ValueError, KeyError, TypeError) as e:
        return [f"diff output is not the expected JSON: {e!r}"]
    problems = [f"{k}: got {got.get(k)}, expected {v}" for k, v in expected.items()
                if got.get(k) != v]
    if rd.get("keys_not_unique", False):
        problems.append("keys_not_unique is set")
    return problems


def read_jsonl_dir(path):
    rows = []
    for part in sorted(glob.glob(os.path.join(path, "part-*"))):
        with open(part) as f:
            rows.extend(json.loads(line) for line in f if line.strip())
    return rows


def check_curate(stdout_text, out_path, input_ids, expected, seed, pins=None):
    lines = [ln for ln in stdout_text.splitlines() if ln.strip()]
    try:
        summary = json.loads(lines[-1])
        kept = summary["kept_docs"]
    except (ValueError, KeyError, IndexError) as e:
        return [f"curate summary is not the expected JSON line: {e!r}"]
    problems = []
    if summary.get("in_docs") != expected["in_docs"]:
        problems.append(f"in_docs: got {summary.get('in_docs')}, expected {expected['in_docs']}")
    rows = read_jsonl_dir(out_path)
    ids = [r.get("doc_id") for r in rows]
    if len(rows) != kept:
        problems.append(f"output rows {len(rows)} != kept_docs {kept}")
    if len(set(ids)) != len(ids):
        problems.append("output doc ids are not unique")
    if not set(ids) <= set(int(i) for i in input_ids):
        problems.append("output doc ids are not a subset of the input ids")
    texts = [r.get("clean_text") for r in rows]
    if len(set(texts)) != len(texts):
        problems.append("two output texts are equal")
    if pins is None:
        with open(CURATE_PINS_FILE) as f:
            pins = json.load(f)
    pin = pins.get(str(seed))
    if pin:
        problems += [f"{k}: got {summary.get(k)}, pinned {pin[k]}" for k in PINNED_FIELDS
                     if summary.get(k) != pin[k]]
    return problems
