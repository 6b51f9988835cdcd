"""Closed-loop load generator for the interactive_sql workload.

One process, C client threads, each holding one keep-alive HTTP
connection to the service's /sql endpoint. A client takes the next
statement of one shared seeded sequence, sends it, waits for the answer,
and takes the next, until the sequence is used up. The sequence cycles
through the families, each cycle in a seeded order, and through each
family's statements in turn, so every run sends the same statements.
Its first WARM statements are not measured; the N after them are, so the
sample count does not depend on how fast the engine answers, and which
client happens to send a statement does not change the mix.

    python3 loadgen.py --port P --clients C --count N --seed S
        --stmts <tsv: id, family, sql> --out <jsonl>
"""
import argparse
import http.client
import json
import random
import threading
import time

WARM = 16  # two cycles of the eight families


def sequence(path, length, rng):
    """[(id, family, sql)] of the given length."""
    fams = {}
    with open(path) as f:
        for line in f:
            if line.strip():
                sid, fam, sql = line.rstrip("\n").split("\t", 2)
                fams.setdefault(fam, []).append((sid, fam, sql))
    turn = dict.fromkeys(fams, 0)
    out = []
    while len(out) < length:
        cycle = sorted(fams)
        rng.shuffle(cycle)
        for fam in cycle:
            out.append(fams[fam][turn[fam] % len(fams[fam])])
            turn[fam] += 1
    return out[:length]


class Tickets:
    """Hands out the indexes of the sequence, each once."""

    def __init__(self, n):
        self.next, self.n = 0, n
        self.lock = threading.Lock()

    def take(self):
        with self.lock:
            if self.next == self.n:
                return None
            self.next += 1
            return self.next - 1


def client(port, seq, tickets, out, cid):
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=120)
    while (i := tickets.take()) is not None:
        sid, fam, sql = seq[i]
        rec = {"client": cid, "family": fam, "id": sid,
               "measured": i >= WARM, "send": time.time()}
        try:
            conn.request("POST", "/sql", body=sql.encode("utf-8"),
                         headers={"Content-Type": "text/plain"})
            resp = conn.getresponse()
            body = resp.read()
            rec["recv"] = time.time()
            rec["status"] = resp.status
            rec["bytes"] = len(body)
            doc = json.loads(body)
            rec["n"] = doc.get("n")
            if "error" in doc:
                rec["error"] = doc["error"][:300]
        except Exception as e:  # a broken request is a failed operation
            rec.setdefault("recv", time.time())
            rec["status"] = -1
            rec["error"] = repr(e)[:300]
            conn.close()
            conn = http.client.HTTPConnection("127.0.0.1", port, timeout=120)
        out.append(rec)
    conn.close()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--port", type=int, required=True)
    ap.add_argument("--clients", type=int, required=True)
    ap.add_argument("--count", type=int, required=True,
                    help="measured statements")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--stmts", required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    seq = sequence(a.stmts, WARM + a.count, random.Random(a.seed))
    tickets = Tickets(len(seq))
    outs = [[] for _ in range(a.clients)]
    threads = [threading.Thread(target=client,
                                args=(a.port, seq, tickets, outs[i], i))
               for i in range(a.clients)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    with open(a.out, "w") as f:
        for recs in outs:
            for r in recs:
                f.write(json.dumps(r) + "\n")


if __name__ == "__main__":
    main()
