"""Tests for the benchmark's seeded ingest traffic.

    python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402


class IngestPlanTest(unittest.TestCase):
    def plan(self, seed=7):
        return gen.ingest_plan(seed, 8, (6, 40), (50, 1))

    def test_same_seed_same_files(self):
        a, b = self.plan(), self.plan()
        self.assertEqual(a.backlog + a.paced, b.backlog + b.paced)
        self.assertEqual(a.expected, b.expected)
        self.assertNotEqual(a.paced, self.plan(seed=8).paced)

    def test_every_paced_file_stores_one_new_message(self):
        p = self.plan()
        self.assertEqual(len(p.paced), 50)
        self.assertTrue(all(len(keys) == 1 for keys in p.paced_keys))
        self.assertEqual(len(set(k for keys in p.paced_keys for k in keys)),
                         50)

    def test_devices_report_in_turn_once_a_second(self):
        # a device's new readings are one second apart; a message lost for
        # want of a device id leaves a longer gap
        p = gen.ingest_plan(3, 8, (0, 0), (400, 1))
        seen, ts = set(), {}
        for text in p.paced:
            for line in text.splitlines():
                if line in seen:      # a re-delivery
                    continue
                seen.add(line)
                dev = json.loads(line).get("device_id", "")
                if dev and not dev.startswith("ee:ee:ee"):
                    ts.setdefault(dev, []).append(
                        int(json.loads(line)["timestamp"]))
        self.assertEqual(len(ts), 8)
        steps = [b - a for xs in ts.values() for a, b in zip(xs, xs[1:])]
        self.assertTrue(all(s >= 1 for s in steps))
        self.assertGreater(steps.count(1), 0.9 * len(steps))


if __name__ == "__main__":
    unittest.main()
