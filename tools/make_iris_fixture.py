#!/usr/bin/env python3
"""Write the iris-shaped test fixture tables.

Usage: python3 tools/make_iris_fixture.py [out_dir]

Draws 50 rows per class from independent normals with the per-class
means and standard deviations of Fisher's iris measurements (seeded, so
the output is byte-identical on every run), shuffles them, and writes
the first 112 rows to train.csv and the other 38, without TARGET, to
test.csv. Default out_dir is the fixture directory the test suite reads:
src/test/resources/iris/features_generation/features_dataset_001.
"""
import csv
import os
import random
import sys

COLUMNS = ["sepal length (cm)", "sepal width (cm)",
           "petal length (cm)", "petal width (cm)"]
# (means, standard deviations) per class, in COLUMNS order
CLASSES = [
    ((5.006, 3.428, 1.462, 0.246), (0.352, 0.379, 0.174, 0.105)),
    ((5.936, 2.770, 4.260, 1.326), (0.516, 0.314, 0.470, 0.198)),
    ((6.588, 2.974, 5.552, 2.026), (0.636, 0.322, 0.552, 0.275)),
]


def main() -> None:
    out = sys.argv[1] if len(sys.argv) > 1 else os.path.join(
        "src", "test", "resources", "iris", "features_generation",
        "features_dataset_001")
    rnd = random.Random(42)
    rows = []
    for label, (mu, sd) in enumerate(CLASSES):
        for _ in range(50):
            rows.append([max(0.1, round(rnd.gauss(m, s), 1))
                         for m, s in zip(mu, sd)] + [label])
    rnd.shuffle(rows)
    os.makedirs(out, exist_ok=True)
    for name, part, header in (("train.csv", rows[:112], COLUMNS + ["TARGET"]),
                               ("test.csv", rows[112:], COLUMNS)):
        with open(os.path.join(out, name), "w", newline="") as f:
            w = csv.writer(f, lineterminator="\n")
            w.writerow(header)
            for r in part:
                w.writerow(r[:len(header)])


if __name__ == "__main__":
    main()
