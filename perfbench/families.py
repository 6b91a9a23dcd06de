"""The four families of SparkEntry keys the benchmark's workloads are
drawn from."""
import re

ITERATIVE_EXTRA = {"er01", "er02", "ml05", "ml08", "ml09", "t27", "cb01"}


def family(name):
    """The family of a SparkEntry key: olap, text, iterative, ingest or None.
    Membership goes by the letters before the first digit, with the
    listed exceptions."""
    key = name.split("_")[0]
    letters = re.match(r"[a-z]*", key).group(0)
    if letters == "r" or key in ITERATIVE_EXTRA:
        return "iterative"
    if letters in ("h", "ds"):
        return "olap"
    if letters in ("d", "t", "f", "s", "fz", "m"):
        return "text"
    if letters in ("c", "p", "ddl", "i", "dt") or key == "lo01":
        return "ingest"
    return None


FAMILIES = ["olap", "text", "iterative", "ingest"]
