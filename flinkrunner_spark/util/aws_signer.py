"""AWS Signature Version 4 request signing — stdlib-only.

Reference parity: util/aws/AWSSigner.scala:1-86 + AWSSignableRequest.scala
(the reference wraps the AWS SDK's AWS4Signer to sign http4s requests for
its Kinesis/Firehose sinks; this module implements the same signing from
the PUBLIC SigV4 specification — canonical request → string-to-sign →
HMAC-SHA256 key chain → Authorization header — so the kinesis/firehose
config stubs have a real, tested signer to build on when an HTTP client
is available). Mirrored behaviors: service inference from
``<service>[.<region>].amazonaws.com`` hosts, single URL-encoding for s3
vs double for other services, and the s3 x-amz-content-sha256 header.

``AwsJsonClient`` is the one signed ``x-amz-json-1.1`` POST: the
Kinesis source and stream reader, the Kinesis/Firehose sink and the
Glue catalog each build one from their own conf keys.

Validated in tests/test_aws_signer.py against the worked example vector
published in the AWS General Reference "Signature Version 4 signing
process" documentation (AKIDEXAMPLE / ListUsers on iam).
"""

from __future__ import annotations

import hashlib
import hmac
import re
from dataclasses import dataclass
from urllib.parse import quote, unquote, urlsplit

_SERVICE_HOST = re.compile(r"([^.]+)(\.[^.]+)?\.amazonaws\.com$")

ALGORITHM = "AWS4-HMAC-SHA256"


@dataclass
class AwsCredentials:
    access_key: str
    secret_key: str
    session_token: str | None = None


def resolve_service(host: str) -> str | None:
    """Infer the AWS service from a ``*.amazonaws.com`` host (the
    reference's serviceEndpointPattern)."""
    m = _SERVICE_HOST.search(host)
    return m.group(1) if m else None


def _uri_encode(s: str, encode_slash: bool = True) -> str:
    # SigV4 canonical encoding: unreserved chars per RFC 3986
    safe = "-_.~" + ("" if encode_slash else "/")
    return quote(s, safe=safe)


def _canonical_query(query: str) -> str:
    # decode-then-encode: the wire query may already be percent-encoded
    # (URL builders must encode reserved chars to put them on the wire),
    # and the service canonicalizes from the DECODED values — encoding
    # the wire form again would sign prefix=ns%252Fdocs while the server
    # computes prefix=ns%2Fdocs, i.e. guaranteed SignatureDoesNotMatch
    if not query:
        return ""
    pairs = []
    for part in query.split("&"):
        if not part:
            continue
        k, _, v = part.partition("=")
        pairs.append((_uri_encode(unquote(k)), _uri_encode(unquote(v))))
    return "&".join(f"{k}={v}" for k, v in sorted(pairs))


def _hmac(key: bytes, msg: str) -> bytes:
    return hmac.new(key, msg.encode(), hashlib.sha256).digest()


def signing_key(secret: str, date: str, region: str, service: str) -> bytes:
    """kSigning = HMAC-chain over date/region/service/aws4_request."""
    k = _hmac(b"AWS4" + secret.encode(), date)
    k = _hmac(k, region)
    k = _hmac(k, service)
    return _hmac(k, "aws4_request")


def sign_request(
    method: str,
    url: str,
    headers: dict[str, str],
    payload: bytes,
    credentials: AwsCredentials,
    region: str,
    amz_date: str,
    service: str | None = None,
) -> dict[str, str]:
    """Sign one HTTP request; returns the full header map including
    ``Authorization`` (and ``x-amz-security-token`` / the s3
    ``x-amz-content-sha256`` where applicable).

    ``amz_date`` is the ISO-basic timestamp (``YYYYMMDDTHHMMSSZ``) —
    passed in rather than read from a clock so signing is deterministic
    and testable (the reference gets it from the SDK's signer; the spec
    requires it in both the headers and the credential scope)."""
    parts = urlsplit(url)
    host = parts.hostname or ""
    service = service or resolve_service(host)
    if service is None:
        raise ValueError(f"cannot infer AWS service from host {host!r}")
    # the signed host header must match what the HTTP client sends:
    # urllib sends "Host: host:port" for non-default ports (the
    # localstack-style endpoint override), so include it — signing bare
    # parts.hostname there guarantees SignatureDoesNotMatch
    host_header = host
    if parts.port is not None and parts.port != {
        "https": 443, "http": 80,
    }.get(parts.scheme):
        host_header = f"{host}:{parts.port}"

    date = amz_date[:8]
    payload_hash = hashlib.sha256(payload or b"").hexdigest()

    hdrs = {k.lower().strip(): " ".join(v.split()) for k, v in headers.items()}
    hdrs.setdefault("host", host_header)
    hdrs["x-amz-date"] = amz_date
    if credentials.session_token:
        hdrs["x-amz-security-token"] = credentials.session_token
    if service == "s3":
        # s3 requires the content hash as a signed header (the reference
        # pre-adds this header before signing for the same reason)
        hdrs["x-amz-content-sha256"] = payload_hash

    # canonical URI: s3 single-encodes, everything else double-encodes
    # (AWS4Signer's doubleUrlEncoding flag, mirrored from the reference)
    # decode first: urlsplit leaves the wire path percent-encoded, and a
    # key like "a b" arrives as "a%20b" — re-encoding that signs %2520
    path = unquote(parts.path or "/")
    canonical_path = (
        _uri_encode(path, encode_slash=False)
        if service == "s3"
        else _uri_encode(_uri_encode(path, encode_slash=False), encode_slash=False)
    )

    signed_names = sorted(hdrs)
    canonical_headers = "".join(f"{k}:{hdrs[k]}\n" for k in signed_names)
    signed_headers = ";".join(signed_names)
    canonical_request = "\n".join(
        [
            method.upper(),
            canonical_path,
            _canonical_query(parts.query),
            canonical_headers,
            signed_headers,
            payload_hash,
        ]
    )

    scope = f"{date}/{region}/{service}/aws4_request"
    string_to_sign = "\n".join(
        [
            ALGORITHM,
            amz_date,
            scope,
            hashlib.sha256(canonical_request.encode()).hexdigest(),
        ]
    )
    signature = hmac.new(
        signing_key(credentials.secret_key, date, region, service),
        string_to_sign.encode(),
        hashlib.sha256,
    ).hexdigest()

    out = dict(hdrs)
    out["authorization"] = (
        f"{ALGORITHM} Credential={credentials.access_key}/{scope}, "
        f"SignedHeaders={signed_headers}, Signature={signature}"
    )
    return out


class AwsJsonClient:
    """One AWS JSON-1.1 service endpoint (Kinesis, Firehose, Glue):
    every call is a SigV4-signed POST of a JSON body with an
    ``X-Amz-Target`` operation header, answered with a JSON body.
    Callers map their own conf keys onto the constructor; ``endpoint``
    defaults to the public ``https://<service>.<region>.amazonaws.com/``
    and overrides for localstack-style endpoints. HTTP errors propagate
    as ``urllib.error.HTTPError`` for the caller to map."""

    def __init__(
        self,
        service: str,
        region: str,
        access_key: str,
        secret_key: str,
        session_token: str | None = None,
        endpoint: str | None = None,
    ):
        self.service, self.region = service, region
        self.endpoint = (
            endpoint or f"https://{service}.{region}.amazonaws.com/"
        )
        self.credentials = AwsCredentials(
            access_key, secret_key, session_token or None
        )

    def signed_headers(
        self, target: str, body: bytes, amz_date: str | None = None
    ) -> dict[str, str]:
        """Headers for one call; ``amz_date`` pins the clock for
        offline tests (default: now, UTC)."""
        import time

        return sign_request(
            method="POST",
            url=self.endpoint,
            headers={
                "Content-Type": "application/x-amz-json-1.1",
                "X-Amz-Target": target,
            },
            payload=body,
            credentials=self.credentials,
            region=self.region,
            amz_date=amz_date
            or time.strftime("%Y%m%dT%H%M%SZ", time.gmtime()),
            service=self.service,
        )

    def post(self, target: str, body: bytes, timeout: float = 30.0) -> dict:
        import json
        import urllib.request

        req = urllib.request.Request(
            self.endpoint,
            data=body,
            headers=self.signed_headers(target, body),
            method="POST",
        )
        with urllib.request.urlopen(req, timeout=timeout) as r:
            raw = r.read()
        return json.loads(raw) if raw else {}
