import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import cdcgen  # noqa: E402


class GeneratorTest(unittest.TestCase):
    def test_same_seed_same_batches(self):
        self.assertEqual(cdcgen.generate(7, 3), cdcgen.generate(7, 3))

    def test_different_seed_different_batches(self):
        self.assertNotEqual(cdcgen.generate(7, 3), cdcgen.generate(8, 3))

    def test_log_is_in_global_ts_event_id_order(self):
        events = [e for b in cdcgen.generate(3, 4) for e in b["events"]]
        keys = [(e["ts"], e["event_id"]) for e in events]
        self.assertEqual(keys, sorted(keys))
        self.assertEqual(len({e["event_id"] for e in events}), len(events))

    def test_adversarial_cases_present(self):
        batches = cdcgen.generate(5, 3)
        for b in batches:
            ops = [(e["user_id"], e["event_type"]) for e in b["events"]]
            # an update and then a delete of one key inside the batch
            self.assertTrue(any(
                ops[i][1] == "update" and (ops[i][0], "delete") in ops[i + 1:]
                for i in range(len(ops))))
            # two changes with the same timestamp
            ts = [e["ts"] for e in b["events"]]
            self.assertLess(len(set(ts)), len(ts))
        # a key inserted again after its tombstone
        seen_deleted = set()
        reinserted = False
        for e in (e for b in batches for e in b["events"]):
            if e["event_type"] == "delete":
                seen_deleted.add(e["user_id"])
            elif e["event_type"] == "insert" and e["user_id"] in seen_deleted:
                reinserted = True
        self.assertTrue(reinserted)

    def test_replays_are_exact_copies_of_recent_events(self):
        batches = cdcgen.generate(9, 3)
        for i, b in enumerate(batches):
            recent = batches[max(0, i - 1)]["events"] + b["events"]
            self.assertTrue(b["replays"])
            for r in b["replays"]:
                self.assertIn(r, recent)

    def test_planted_documents_copy_an_original(self):
        docs = [d for b in cdcgen.generate(4, 3) for d in b["docs"]]
        originals = {d["text"] for d in docs if not d["dup"]}
        self.assertEqual(len(originals), sum(1 for d in docs if not d["dup"]))
        self.assertTrue(any(d["dup"] for d in docs))
        self.assertTrue(all(d["text"] in originals for d in docs if d["dup"]))


if __name__ == "__main__":
    unittest.main()
