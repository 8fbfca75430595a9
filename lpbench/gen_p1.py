"""Seeded generator for the reference-format p1 input files (FIXTURES.md A1-A4).

Writes, under <out_dir>:
  node_information.csv  A1: headerless CSV, 6 columns, quoted fields with commas
  training_set.txt      A2: "src dst label", space separated, a few malformed lines
  testing_set.txt       A3: "src dst", space separated
  Cit-HepTh.txt         A4: SNAP edge list, tab separated, '#' headers

Labels carry signal: papers belong to topics, cite mostly within their topic
and only earlier years, share topic words in titles and abstracts, and share
topic authors and journals. At scale 1.0 the sizes are the paper's: 27,770
papers, ~615k training edges, 32,648 candidates.

The seed draws the paper ids and the line order of every file. Topics, years,
text, authors and the citation graph come from a fixed structure seed, so
every seed poses the same learning problem (the same feature rows, hence the
same optimizer work) in a different file layout.

Usage: python3 gen_p1.py <out_dir> <scale> <seed>
Prints the line counts as JSON on stdout.
"""
import json
import os
import sys

import numpy as np

N_PAPERS, N_TRAIN, N_CAND = 27_770, 615_512, 32_648
N_TOPICS = 40
GENERAL = ("the of a model field theory space quantum gauge string results "
           "we show new study method approach two one non local general "
           "function system states limit case effective").split()
STOP_LIKE = ["the", "of", "a", "and", "in", "for", "on", "with"]
MALFORMED = ["", "9999999", "x y z", "1 2 maybe", "  "]
MALFORMED_EVERY = 10_000
STRUCTURE_SEED = 1998


def topic_words(t):
    return [f"t{t}w{j}" for j in range(25)]


def csv_field(s):
    if any(ch in s for ch in ',"\n'):
        return '"' + s.replace('"', '""') + '"'
    return s


def sentence(rng, own, n):
    """n words: 45% from the paper's topic, 40% general, 15% stop words."""
    r = rng.random(n)
    o = rng.integers(0, len(own), n)
    g = rng.integers(0, len(GENERAL), n)
    w = rng.integers(0, len(STOP_LIKE), n)
    return " ".join(own[o[k]] if r[k] < 0.45 else
                    GENERAL[g[k]] if r[k] < 0.85 else STOP_LIKE[w[k]]
                    for k in range(n))


def cite(rng, topic, want):
    """Directed citation pairs (src cites an earlier dst), 85% within topic."""
    n = len(topic)
    order = np.argsort(topic, kind="stable")  # per topic, ascending index
    counts = np.bincount(topic, minlength=N_TOPICS)
    start = np.concatenate([[0], np.cumsum(counts)[:-1]])
    rank = np.empty(n, dtype=np.int64)
    rank[order] = np.arange(n) - start[topic[order]]
    cites = set()
    while len(cites) < want:
        src = rng.integers(1, n, want)
        same = rng.random(want) < 0.85
        u = rng.random(want)
        dst_topic = order[start[topic[src]] + (u * rank[src]).astype(np.int64)]
        dst_any = (u * src).astype(np.int64)
        ok = ~same | (rank[src] > 0)
        dst = np.where(same, dst_topic, dst_any)
        for s, d in zip(src[ok].tolist(), dst[ok].tolist()):
            if len(cites) >= want:
                break
            cites.add((s, d))
    return sorted(cites)


def generate(out, scale, seed):
    rng = np.random.default_rng(STRUCTURE_SEED)
    layout = np.random.default_rng(seed)
    n = max(200, int(N_PAPERS * scale))
    n_train = max(2000, int(N_TRAIN * scale))
    n_cand = max(400, int(N_CAND * scale))
    ids = 9_200_000 + 7 * layout.permutation(n)
    topic = rng.integers(0, N_TOPICS, n)
    year = np.sort(rng.integers(1993, 2004, n))  # index order is time order
    authors = [[f"A. T{t}n{j}" for j in range(30)] for t in range(N_TOPICS)]
    journals = [f"Nucl.Phys. B{t}" for t in range(N_TOPICS)] + ["Phys.Lett.", ""]
    os.makedirs(out, exist_ok=True)

    rows = []
    for i in range(n):
        t = int(topic[i])
        own = topic_words(t)
        title = sentence(rng, own, int(rng.integers(4, 12)))
        if rng.random() < 0.2:
            title = title.replace(" ", ", ", 1)  # commas inside a quoted field
        k = int(rng.integers(1, 4))
        auth = ", ".join(authors[t][int(a)] for a in rng.integers(0, 30, k))
        j = journals[t] if rng.random() < 0.6 else journals[int(rng.integers(40, 42))]
        abstract = sentence(rng, own, int(rng.integers(20, 60))) if rng.random() < 0.9 else ""
        rows.append(",".join([str(ids[i]), str(year[i]), csv_field(title),
                              csv_field(auth), csv_field(j), csv_field(abstract)]))
    with open(os.path.join(out, "node_information.csv"), "w") as f:
        for i in layout.permutation(n):
            f.write(rows[i] + "\n")

    want = int(n_train * 0.55) + n_cand
    cites = cite(rng, topic, want)
    order = rng.permutation(len(cites))
    gt = [cites[i] for i in order]
    n_pos_train = int(n_train * 0.55)
    train_pos, held_out = gt[:n_pos_train], gt[n_pos_train:]

    def random_pairs(k):
        a, b = rng.integers(0, n, k).tolist(), rng.integers(0, n, k).tolist()
        return [(s, d) for s, d in zip(a, b) if s != d]

    cited = set(cites)
    train = [(s, d, 1) for s, d in train_pos]
    while len(train) < n_train:
        train += [(s, d, 0) for s, d in random_pairs(n_train - len(train))
                  if (s, d) not in cited]
    train = [train[i] for i in layout.permutation(len(train))]
    with open(os.path.join(out, "training_set.txt"), "w") as f:
        for k, (s, d, l) in enumerate(train):
            f.write(f"{ids[s]} {ids[d]} {l}\n")
            if k % MALFORMED_EVERY == MALFORMED_EVERY // 2:
                f.write(MALFORMED[(k // MALFORMED_EVERY) % len(MALFORMED)] + "\n")
    malformed = (len(train) + MALFORMED_EVERY // 2) // MALFORMED_EVERY

    cand = held_out[: n_cand // 3]
    while len(cand) < n_cand:
        cand += random_pairs(n_cand - len(cand))
    cand = [cand[i] for i in layout.permutation(len(cand))]
    with open(os.path.join(out, "testing_set.txt"), "w") as f:
        for s, d in cand:
            f.write(f"{ids[s]} {ids[d]}\n")

    with open(os.path.join(out, "Cit-HepTh.txt"), "w") as f:
        f.write("# Directed graph (each unordered pair of nodes is saved once)\n")
        f.write(f"# Nodes: {n} Edges: {len(cites)}\n# FromNodeId\tToNodeId\n")
        for i in layout.permutation(len(cites)):
            s, d = cites[i]
            f.write(f"{ids[s]}\t{ids[d]}\n")

    return {"papers": n, "training": len(train), "training_malformed": malformed,
            "candidates": len(cand), "ground_truth": len(cites)}


def count_lines(out):
    def lines(name):
        with open(os.path.join(out, name)) as f:
            return sum(1 for _ in f)
    return {"papers": lines("node_information.csv"),
            "training_lines": lines("training_set.txt"),
            "candidates": lines("testing_set.txt"),
            "ground_truth": lines("Cit-HepTh.txt") - 3}


def main():
    out, scale, seed = sys.argv[1], float(sys.argv[2]), int(sys.argv[3])
    made = generate(out, scale, seed)
    got = count_lines(out)
    expect = {"papers": made["papers"],
              "training_lines": made["training"] + made["training_malformed"],
              "candidates": made["candidates"], "ground_truth": made["ground_truth"]}
    if got != expect:
        sys.exit(f"line counts {got} differ from generated {expect}")
    print(json.dumps(made))


if __name__ == "__main__":
    main()
