#!/usr/bin/env python3
"""Case-table test of the expected-state model (`python3 perfbench/test_model.py`).

The URI cases are the branches of the reference's resolution truth table
(slug, then NCN under the document type's identifier type, then a
surrogate), plus the wrong-namespace NCN miss. The round cases pin the
asset plan, the publish and e-mail tables and the failure ledger."""
import hashlib
import os
import random
import sys
import unittest

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402
import model  # noqa: E402

IDS = {
    ("doc/a", "slug", "ewhc/kb/2024/1", None),
    ("doc/dup1", "slug", "ewhc/kb/2024/2", None),
    ("doc/dup2", "slug", "ewhc/kb/2024/2", None),
    ("doc/b", "value", "[2024] EWHC 1 (KB)", "ukncn"),
    ("doc/c", "value", "[2024] EWHC 2 (KB)", "ukncn"),
    ("doc/c2", "value", "[2024] EWHC 2 (KB)", "ukncn"),
    ("doc/p", "value", "[2024] EWHC 3 (KB)", "ukncn-summary"),
    ("fcl/x", "value", "[2024] EWHC 4 (KB)", "fclid"),
}
SUR = "d-" + hashlib.md5(b"uri:REF-1").hexdigest()[:12]

# (case, trimmed uri, ncn, doc type) -> (uri, exists, error)
URI_CASES = [
    ("slug hit", "ewhc/kb/2024/1", None, "judgment", ("doc/a", True, None)),
    ("slug hit wins over an NCN hit", "ewhc/kb/2024/1", "[2024] EWHC 1 (KB)", "judgment",
     ("doc/a", True, None)),
    ("slug with two documents", "ewhc/kb/2024/2", None, "judgment",
     (None, None, "MultipleResolutionsFoundError")),
    ("slug miss, NCN hit", "ewhc/kb/2024/9", "[2024] EWHC 1 (KB)", "judgment",
     ("doc/b", True, None)),
    ("slug miss, NCN miss", "ewhc/kb/2024/9", "[2024] EWHC 9 (KB)", "judgment",
     (SUR, False, None)),
    ("no URI, NCN hit", None, "[2024] EWHC 1 (KB)", "judgment", ("doc/b", True, None)),
    ("no URI, NCN with two documents", None, "[2024] EWHC 2 (KB)", "judgment",
     (None, None, "MultipleResolutionsFoundError")),
    ("no URI, no NCN", None, None, "judgment", (SUR, False, None)),
    ("press summary NCN hit", None, "[2024] EWHC 3 (KB)", "pressSummary",
     ("doc/p", True, None)),
    ("press summary NCN under the judgment type", None, "[2024] EWHC 1 (KB)", "pressSummary",
     (SUR, False, None)),
    ("parser log never matches an NCN", None, "[2024] EWHC 1 (KB)", "parserLog",
     (SUR, False, None)),
    ("NCN only in another namespace", None, "[2024] EWHC 4 (KB)", "judgment",
     (SUR, False, None)),
]


class UriCascade(unittest.TestCase):
    def test_truth_table(self):
        for case, trimmed, ncn, doc_type, want in URI_CASES:
            with self.subTest(case):
                self.assertEqual(model.resolve(trimmed, ncn, doc_type, "REF-1", IDS), want)

    def test_trimmed_uri(self):
        self.assertEqual(model.trimmed_uri(model.URI_PREFIX + "ewca/civ/2024/1"),
                         "ewca/civ/2024/1")
        self.assertIsNone(model.trimmed_uri(""))
        self.assertIsNone(model.trimmed_uri(None))


class Round(unittest.TestCase):
    def setUp(self):
        self.bucket = {}
        self.rng = random.Random(7)

    def put(self, key, data):
        self.bucket[("b", key)] = data
        return key

    def test_tdr_insert_asset_plan_and_tables(self):
        k1 = self.put("a.tar.gz", gen.package(self.rng, "A", originator="TDR", ncn="[2024] X 1",
                                              docx=True, log=True, images=1))
        k2 = self.put("n.tar.gz", gen.package(self.rng, "N", originator="TDR", docx=None,
                                              log=False))
        m = model.Model()
        m.round([gen.sqs_v2("m1", "A", "TDR", "b", k1), gen.sqs_v2("m2", "N", "TDR", "b", k2)],
                self.bucket)
        a, n = model.surrogate("A"), model.surrogate("N")
        self.assertEqual(m.documents[a]["upload_state"], "inserted")
        self.assertEqual(m.documents[a]["annotation_message"],
                         "New document submitted by TDR user")
        self.assertFalse(m.documents[a]["is_published"])
        self.assertEqual(set(m.assets), {
            (a, "tarball", "A.tar.gz"), (a, "source", a + ".docx"),
            (a, "parser_log", "parser.log"), (a, "image", "image0.png"),
            (n, "tarball", "N_nodocx.tar.gz")})
        self.assertIn((a, "value", "[2024] X 1", "ukncn"), m.identifiers)
        self.assertIn((n, "slug", n, None), m.identifiers)
        self.assertEqual(sorted(m.notifications),
                         [(a, "new", "A", True), (n, "new", "N", True)])
        self.assertEqual(m.properties[(a, "transfer-consignment-reference")], "A")
        self.assertEqual(m.landed, 2)

    def test_fcl_s3_reparse_rewrites_reference_and_publishes(self):
        m = model.Model()
        m.preload([dict(uri="doc/1", xml="<x/>", doc_type="judgment", annotation_message="",
                        annotation_payload="", automated=False, upload_state="inserted",
                        will_publish=False)],
                  [("doc/1", "value", "[2024] X 1", "ukncn")])
        key = self.put("r 2024/S3-1.tar.gz", gen.package(
            self.rng, "S3-1", originator="FCL S3", ncn="[2024] X 1", tre_reference="TRE-9",
            auto_publish=False))
        m.round([gen.sqs_s3("m1", "b", "r+2024/S3-1.tar.gz")], self.bucket)
        d = m.documents["doc/1"]
        self.assertEqual((d["version"], d["upload_state"], d["is_published"]),
                         (2, "updated", False))
        self.assertEqual(m.notifications, [("doc/1", "bulk", "TRE-9", False)])
        self.assertIn(("doc/1", "tarball", "S3-1.tar.gz"), m.assets)

    def test_failure_ledger(self):
        nometa = self.put("x.tar.gz", gen.package(self.rng, "X", originator="TDR",
                                                  metadata=False))
        bad = self.put("h.tar.gz", gen.package(self.rng, "H", originator="TDR",
                                               hostile_image="../../e.png"))
        m = model.Model()
        out = m.round([
            gen.sqs_v2("m1", "X", "TDR", "b", nometa),
            gen.sqs_v2("m2", "Y", "XYZ", "b", "none"),
            gen.sqs_v2("m3", "Z", "FCL", "b", "missing.tar.gz"),
            gen.sns_v2("S", "XYZ", "b", "none"),
            gen.sqs_invalid("m4"),
            gen.sqs_v2("m5", "H", "TDR", "b", bad)], self.bucket)
        self.assertEqual(m.failures, [
            ("m1", "FileNotFoundException: metadata file not found", True),
            ("m2", "RuntimeError: Didn't recognise originator XYZ", True),
            ("m3", model.FETCH_ERROR, False),
            ("m4", "InvalidMessageException", True),
            ("m5", model.UNSAFE_PATH, False)])
        self.assertEqual(out[3]["msg_id"], None)  # SNS-delivered: no ledger row
        self.assertEqual(m.documents, {})
        self.assertEqual(m.landed, 0)

    def test_ledger_check_counts_whole_string_terminal_lookup_apart(self):
        import check
        expected = [("m1", "FileNotFoundException: metadata file not found", True),
                    ("m4", "InvalidMessageException", True)]

        def run(rows):
            notes = []
            wrong = check.check_failures(
                [dict(msg_id=a, error=b, terminal=c) for a, b, c in rows], expected,
                notes.append)
            return wrong, notes
        self.assertEqual(run(expected), ([], []))
        # the program's whole-string lookup: a failed message, not a mismatch
        self.assertEqual(run([(*expected[0][:2], False), expected[1]]), (["m1"], []))
        # a class name without detail read non-terminal is a mismatch
        wrong, notes = run([expected[0], (*expected[1][:2], False)])
        self.assertEqual((wrong, len(notes)), ([], 2))


if __name__ == "__main__":
    unittest.main()
