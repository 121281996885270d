import hashlib
import os

DATA = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "data")


def test_input_tables_match_their_checksums():
    with open(os.path.join(DATA, "SHA256SUMS")) as fh:
        listed = dict(reversed(line.split()) for line in fh)
    on_disk = {
        f"{sf}/{f}"
        for sf in ("sf0.1", "sf0.001")
        for f in os.listdir(os.path.join(DATA, sf))
    }
    assert set(listed) == on_disk
    for rel, digest in listed.items():
        with open(os.path.join(DATA, rel), "rb") as fh:
            assert hashlib.sha256(fh.read()).hexdigest() == digest, rel
