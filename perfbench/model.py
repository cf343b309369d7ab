"""Expected-state model of the ingest pipeline, written from the reference's
rules and independent of the program under test.

Given the generated messages and the archives they point at, `Model.round`
replays one micro-batch: every decision reads the state before the round,
and the round's effects then land together, as the program's effect round
does. The state is plain Python: the six store tables plus the asset bytes
expected under the asset root.

Rules modelled (reference behaviour, as the program documents it):
  - message decode: SQS records carry a message id, SNS records do not; the
    inner message is the S3 dialect, the V2 dialect or invalid; S3 keys are
    form-decoded for the download and their basename before the first dot
    is the consignment reference;
  - the URI cascade: parser URI as a slug, then the NCN under the identifier
    type of the document type, then a `d-` surrogate;
  - the publish decision (`will_publish`) and the e-mail action tables, the
    annotation message, the version payload, the metadata properties;
  - the asset plan: the tarball (`_nodocx` without a source document), the
    source document under the flattened URI, parser.log when present, and
    each image;
  - the failure ledger: only SQS failures are kept; `terminal` is the
    taxonomy lookup on the error's class name (the text before the first
    colon), or the receive budget.
"""
import hashlib
import io
import json
import tarfile
import xml.etree.ElementTree as ET
from urllib.parse import unquote_plus

URI_PREFIX = "https://caselaw.nationalarchives.gov.uk/id/"
ORIGINATORS = ("TDR", "FCL", "FCL S3")
TERMINAL = {
    "S3HTTPError", "MaximumRetriesExceededException", "InvalidXMLException",
    "InvalidMessageException", "ErrorLogWouldOverwritePublishedDocument",
    "FileNotFoundException", "DocxFilenameNotFoundException", "DocumentInsertionError",
    "MultipleResolutionsFoundError", "DocumentXMLNotYetInDatabase",
    "CannotPublishException", "RuntimeError"}
MAX_RECEIVES = 3
REQUEST_ID = "graft-local-request"
ID_TYPE = {"judgment": "ukncn", "pressSummary": "ukncn-summary"}
FETCH_ERROR = "ClientError: package fetch failed"
# the outcome a package whose asset names leave the asset root should have:
# a typed failure row and no effects (the error's name is the program's to
# choose, so the check accepts any error row for the message)
UNSAFE_PATH = "<unsafe asset path>"
MISSING = object()  # a metadata key that is absent, not null


# ------------------------------------------------------------ scalar rules

def surrogate(consignment_ref):
    return "d-" + hashlib.md5(("uri:" + consignment_ref).encode()).hexdigest()[:12]


def trimmed_uri(raw):
    if raw is None or raw == "":
        return None
    return raw[len(URI_PREFIX):] if raw.startswith(URI_PREFIX) else raw


def modify_filename(name, addition):
    head, _, base = name.rpartition("/")
    prefix, dot, rest = base.partition(".")
    return (head + "/" if head else "") + prefix + addition + dot + rest


def extension(filename):
    return filename.split(".")[-1].lower()


def xml_escape(s):
    return s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")


def json_str(v):
    if v is None:
        return "null"
    return '"' + v.replace("\\", "\\\\").replace('"', '\\"') + '"'


def classify(xml):
    """Document type from serialized XML (judgment, pressSummary,
    parserLog or unknown); None when the XML does not parse."""
    try:
        root = ET.fromstring(xml)
    except ET.ParseError:
        return None
    local = root.tag.split("}")[-1]
    if local == "judgment":
        return "judgment"
    if local == "error":
        return "parserLog"
    if local == "doc":
        return "pressSummary" if root.get("name") == "pressSummary" else "unknown"
    if local == "akomaNtoso":
        child = next(iter(root), None)
        if child is None:
            return "unknown"
        c = child.tag.split("}")[-1]
        if c == "judgment":
            return "judgment"
        if c == "doc" and child.get("name") == "pressSummary":
            return "pressSummary"
    return "unknown"


def resolve(trimmed, ncn, doc_type, consignment_ref, identifiers):
    """The URI cascade. `identifiers` is a set of (document_uri, id_kind,
    id_value, id_type). Returns (uri, exists, error)."""
    if trimmed is not None:
        hits = sorted(u for (u, k, v, _) in identifiers if k == "slug" and v == trimmed)
        if len(hits) > 1:
            return None, None, "MultipleResolutionsFoundError"
        if hits:
            return hits[0], True, None
    want = ID_TYPE.get(doc_type)
    if ncn is not None and want is not None:
        hits = sorted(u for (u, k, v, t) in identifiers
                      if k == "value" and v == ncn and t == want)
        if len(hits) > 1:
            return None, None, "MultipleResolutionsFoundError"
        if hits:
            return hits[0], True, None
    return surrogate(consignment_ref), False, None


def will_publish(originator, auto_publish, exists, published):
    if originator == "TDR":
        return False
    if originator == "FCL S3":
        return auto_publish
    if originator == "FCL":
        return bool(exists and published)
    return None


def email_action(originator, auto_publish, exists):
    if originator == "FCL":
        return "none"
    if originator == "FCL S3":
        return "none" if auto_publish else "bulk"
    if originator == "TDR":
        return "updated" if exists else "new"
    return None


def annotation_message(is_tdr, exists):
    who = "submitted by TDR user" if is_tdr else "uploaded by Find Case Law"
    return ("Updated document " if exists else "New document ") + who


def version_payload(metadata_json, tdr):
    s = '{"tre_raw_metadata": ' + metadata_json
    s += ', "aws_lambda_context": {"aws_request_id": ' + json_str(REQUEST_ID) + "}"
    if tdr is not None:
        s += ', "tdr_reference": ' + json_str(tdr.get("Internal-Sender-Identifier"))
        s += ', "submitter": {"name": ' + json_str(tdr.get("Contact-Name"))
        s += ', "email": ' + json_str(tdr.get("Contact-Email")) + "}"
    return s + "}"


PROPERTY_KEYS = [
    ("source-organisation", "Source-Organization"),
    ("source-name", "Contact-Name"),
    ("source-email", "Contact-Email"),
    ("transfer-consignment-reference", "Internal-Sender-Identifier"),
    ("transfer-received-at", "Consignment-Completed-Datetime")]


def is_terminal(error, receive_no):
    return error.split(":")[0] in TERMINAL or receive_no >= MAX_RECEIVES


def terminal_by_class_only(error):
    """A terminal error class with a detail after its name
    (`FileNotFoundException: ...`): the program looks `terminal` up on the
    whole error string, so it records these rows as non-terminal."""
    return ":" in error and error not in TERMINAL and error.split(":")[0] in TERMINAL


# --------------------------------------------------------------- decoding

def decode(kind, record_json):
    """One event record -> dict(msg_id, dialect, originator, reference,
    bucket, key, error)."""
    rec = json.loads(record_json)
    if kind == "sqs":
        msg_id = rec.get("messageId")
        inner = json.loads(json.loads(rec["body"])["Message"])
    else:
        msg_id = None
        inner = json.loads(rec["Sns"]["Message"])
    out = dict(msg_id=msg_id, originator=None, reference=None, bucket=None, key=None,
               error=None)
    records = inner.get("Records")
    if records and records[0].get("eventSource") == "aws:s3":
        raw = records[0]["s3"]["object"]["key"]
        out.update(dialect="s3", originator="FCL S3",
                   reference=raw.split("/")[-1].split(".")[0],
                   bucket=records[0]["s3"]["bucket"]["name"], key=unquote_plus(raw))
    elif "parameters" in inner:
        p = inner["parameters"]
        ref = p.get("reference")
        out.update(dialect="v2", originator=p.get("originator"),
                   reference=ref if ref else None, bucket=p.get("s3Bucket"),
                   key=p.get("s3Key"))
        if not ref:
            out["error"] = "InvalidMessageException"
    else:
        out.update(dialect="invalid", error="InvalidMessageException")
    if out["error"] is None and out["originator"] not in ORIGINATORS:
        out["error"] = "RuntimeError: Didn't recognise originator " + str(out["originator"])
    return out


def unsafe_name(name):
    """An asset name that must not become a path under the asset root."""
    return (name.startswith("/") or "\\" in name or any(ord(c) < 32 for c in name)
            or any(seg in ("", ".", "..") for seg in name.split("/")))


def members_of(archive):
    with tarfile.open(fileobj=io.BytesIO(archive), mode="r:*") as t:
        return [(m.name, t.extractfile(m).read()) for m in t.getmembers() if m.isfile()]


def find_member(members, needle):
    """Last member whose name contains `needle`."""
    hits = [m for m in members if needle and needle in m[0]]
    return hits[-1] if hits else None


def gather(original_ref, archive):
    """The gather phase over one archive: dict of the extracted facts, or
    dict(error=...)."""
    members = members_of(archive)
    meta = find_member(members, "-metadata.json")
    if meta is None:
        return dict(error="FileNotFoundException: metadata file not found")
    metadata_json = meta[1].decode()
    params = json.loads(metadata_json).get("parameters") or {}
    tre = params.get("TRE") or {}
    payload = tre.get("payload") or {}
    parser = params.get("PARSER") or {}
    xml_m = find_member(members, payload.get("xml"))
    log_m = find_member(members, "parser.log")
    xml = xml_m[1].decode() if xml_m else None
    log = log_m[1].decode() if log_m else None
    doc_type = classify(xml) if xml is not None else None
    if doc_type is None:
        xml = ("<error>" + xml_escape(log) + "</error>") if log is not None \
            else "<error>parser.log not found</error>"
        doc_type = classify(xml)
    filename = payload.get("filename", MISSING)
    auto = (params.get("INGESTER_OPTIONS") or {}).get("auto_publish")
    return dict(error=None, metadata_json=metadata_json, xml=xml, doc_type=doc_type,
                tdr=params.get("TDR"), trimmed=trimmed_uri(parser.get("uri")),
                ncn=parser.get("cite"), parser_run_id=parser.get("parser_run_id"),
                auto_publish=bool(auto) if auto is not None else False,
                tre_reference=tre.get("reference"),
                source_filename=None if filename is MISSING else filename,
                images=[i for i in (payload.get("images") or []) if i is not None],
                has_log=any("parser.log" in n for n, _ in members),
                members=members,
                unsafe=any(unsafe_name(n) for n in
                           [payload.get("filename") or "x"] + list(payload.get("images") or [])))


# ------------------------------------------------------------------ state

class Model:
    """Store state after the rounds replayed so far."""

    def __init__(self):
        self.documents = {}      # uri -> dict of the documents columns
        self.identifiers = set()  # (document_uri, id_kind, id_value, id_type)
        self.properties = {}     # (uri, name) -> value
        self.assets = {}         # (uri, asset_type, dest_filename) -> src_member
        self.asset_bytes = {}    # (uri, dest_filename) -> md5 hex
        self.notifications = []  # (uri, action, payload, delivered)
        self.failures = []       # (msg_id, error, terminal)
        self.receives = {}       # msg_id -> failed receives so far
        self.landed = 0          # messages whose effects landed
        self.requests = []       # resolution requests, in arrival order

    def preload(self, docs, identifiers):
        """Seed the state with rows written straight into the store."""
        for d in docs:
            self.documents[d["uri"]] = dict(
                xml=d["xml"], doc_type=d["doc_type"],
                annotation_message=d["annotation_message"],
                annotation_payload=d["annotation_payload"], automated=d["automated"],
                upload_state=d["upload_state"], version=1,
                is_published=bool(d["will_publish"]))
        self.identifiers |= set(identifiers)

    def round(self, events, archives, environment="prod"):
        """Replay one micro-batch. `events` is a list of (kind, record_json);
        `archives` maps (bucket, key) to archive bytes (absent = missing).
        Returns the list of per-message outcomes: dict(msg_id, uri, error)."""
        ids_before = set(self.identifiers)
        published_before = {u: d["is_published"] for u, d in self.documents.items()}
        failures, outcomes = [], []
        docs, new_ids, props, assets, blobs, notes = {}, [], {}, [], {}, []
        for kind, record in events:
            m = decode(kind, record)
            out = dict(msg_id=m["msg_id"], uri=None, error=m["error"], message=m)
            outcomes.append(out)
            if m["error"] is not None:
                failures.append((m["msg_id"], m["error"]))
                continue
            archive = archives.get((m["bucket"], m["key"]))
            if archive is None:
                out["error"] = FETCH_ERROR
                failures.append((m["msg_id"], FETCH_ERROR))
                continue
            g = gather(m["reference"], archive)
            if g["error"] is not None:
                out["error"] = g["error"]
                failures.append((m["msg_id"], g["error"]))
                continue
            original_ref = m["reference"]
            ref = g["tre_reference"] if m["originator"] == "FCL S3" and g["tre_reference"] \
                else original_ref
            self.requests.append(dict(trimmed_uri=g["trimmed"], ncn=g["ncn"],
                                      doc_type=g["doc_type"], consignment_ref=ref))
            uri, exists, err = resolve(g["trimmed"], g["ncn"], g["doc_type"], ref, ids_before)
            published = published_before.get(uri, False) if uri else False
            if err is None and g["doc_type"] == "parserLog" and exists and published:
                err = "ErrorLogWouldOverwritePublishedDocument"
            if err is not None:
                out["error"] = err
                failures.append((m["msg_id"], err))
                continue
            out["uri"] = uri
            if g["unsafe"]:
                out["error"] = UNSAFE_PATH
                failures.append((m["msg_id"], UNSAFE_PATH))
                continue
            orig = m["originator"]
            wp = will_publish(orig, g["auto_publish"], exists, published)
            if wp and g["doc_type"] == "parserLog":
                wp = None
                out["error"] = "CannotPublishException"
                failures.append((m["msg_id"], out["error"]))
            is_tdr = g["tdr"] is not None
            docs[uri] = dict(
                xml=g["xml"], doc_type=g["doc_type"],
                annotation_message=annotation_message(is_tdr, exists),
                annotation_payload=version_payload(g["metadata_json"], g["tdr"]),
                automated=g["auto_publish"], upload_state="updated" if exists else "inserted",
                will_publish=wp)
            if g["ncn"] is not None and g["doc_type"] in ID_TYPE:
                new_ids.append((uri, "value", g["ncn"], ID_TYPE[g["doc_type"]]))
            new_ids.append((uri, "slug", uri, None))
            action = email_action(orig, g["auto_publish"], exists)
            if action not in (None, "none"):
                notes.append((uri, action, ref,
                              environment == "prod" and action in ("new", "updated")))
            if is_tdr:
                for name, key in PROPERTY_KEYS:
                    props[(uri, name)] = g["tdr"].get(key)
            if g["parser_run_id"] is not None:
                props[(uri, "parser-run-id")] = g["parser_run_id"]
            tar_name = original_ref + ".tar.gz"
            members = dict(g["members"])
            tar_dest = tar_name if g["source_filename"] is not None \
                else modify_filename(tar_name, "_nodocx")
            plan = [("tarball", tar_dest, None, archive)]
            if g["source_filename"] is not None:
                src = original_ref + "/" + g["source_filename"]
                plan.append(("source", uri.replace("/", "_") + "." +
                             extension(g["source_filename"]), src, members.get(src)))
            if g["has_log"]:
                src = original_ref + "/parser.log"
                plan.append(("parser_log", "parser.log", src, members.get(src)))
            for img in g["images"]:
                src = original_ref + "/" + img
                plan.append(("image", img, src, members.get(src)))
            for asset_type, dest, src, data in plan:
                assets.append(((uri, asset_type, dest), src))
                if data is not None:
                    blobs[(uri, dest)] = hashlib.md5(data).hexdigest()
            if out["error"] is None:
                self.landed += 1

        # the effect round: every decision above read the pre-round state
        for uri, d in docs.items():
            prev = self.documents.get(uri)
            wp = d.pop("will_publish")
            if prev is None:
                d.update(version=1, is_published=bool(wp))
            else:
                d.update(version=prev["version"] + 1,
                         is_published=prev["is_published"] if wp is None else wp)
            self.documents[uri] = d
        self.identifiers |= set(new_ids)
        self.properties.update(props)
        for key, src in assets:
            self.assets.setdefault(key, src)
        self.asset_bytes.update(blobs)
        self.notifications.extend(notes)
        for msg_id, err in dict.fromkeys(failures):
            if msg_id is None:
                continue  # SNS-delivered: at-most-once, dropped
            n = self.receives.get(msg_id, 0) + 1
            self.receives[msg_id] = n
            self.failures.append((msg_id, err, is_terminal(err, n)))
        return outcomes
