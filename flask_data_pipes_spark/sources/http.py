"""HTTP API source connector (S3; reference:
flask_data_pipes/ext/clients.py — Connection 70-169, APIClient 172-366,
HTTPAuthenticator 369-420, HTTPLogin 423-448).

Driver-side by design: API extraction is I/O-bound control-plane work;
the data plane stays in Spark. Two integration paths:

1. `fetch_jsonl(client, endpoint, pages, path)` — stream pages to a
   landing JSONL file, then `spark.read.json(path)` (the reference's
   extract-stage staging, and the durable/auditable path).
2. `paginated_frame(spark, base_url, endpoints, ...)` — fan a list of
   endpoint/page descriptors across the cluster with `mapInPandas`:
   each PARTITION opens its own session and pulls its slice — the
   scale path when one driver NIC would bottleneck (e.g. thousands of
   partitioned API shards). Network access from executors is the
   caller's responsibility to authorize.

Retry parity: max 5 retries, backoff factor 0.3, on
{409,500,502,503,504,598,599} (clients.py:15-19, 350-366). Session
parity: base-URL joining via urljoin (mind the trailing slash —
clients.py docstring), header/param/cookie auth, login/logout flows.
"""

from __future__ import annotations

import json
import os
from typing import Any, Callable, Iterable, Optional
from urllib.parse import urljoin, urlparse

try:
    import requests
    from requests.adapters import HTTPAdapter
    from urllib3.util.retry import Retry

    _HAVE_REQUESTS = True
except ImportError:  # pragma: no cover - requests is present in the env
    _HAVE_REQUESTS = False

DEFAULT_TIMEOUT = (5.01, 32)
DEFAULT_MAX_RETRIES = 5
DEFAULT_BACKOFF_FACTOR = 0.3
DEFAULT_RETRY_CODES = (409, 500, 502, 503, 504, 598, 599)

__all__ = [
    "Connection",
    "APIClient",
    "HTTPAuthenticator",
    "HTTPLogin",
    "fetch_jsonl",
    "paginated_frame",
    "MissingSchema",
]


class MissingSchema(ValueError):
    pass


class Connection:
    """requests.Session wrapper with base-URL joining (clients.py:70-169).

    Endpoint resolution follows urljoin: `sub/id` appends to the base
    path, `/sub/id` replaces it, absolute URLs ignore the base.
    """

    def __init__(self, url: Optional[str], auth=None, **kwargs: Any) -> None:
        if not _HAVE_REQUESTS:
            raise RuntimeError("requests not available")
        if url is not None and not urlparse(url).scheme:
            raise MissingSchema(
                "Server URL must provide a connection scheme e.g., https://hostname"
            )
        self.base_url = url
        self.session = requests.Session()
        self.session.auth = auth
        self.session.verify = kwargs.pop("verify", True)
        self.session.headers.update(kwargs.pop("headers", {}))
        self.session.params.update(kwargs.pop("params", {}))
        self.session.cookies.update(kwargs.pop("cookies", {}))
        self.session.proxies.update(kwargs.pop("proxies", {}))
        self.timeout = kwargs.pop("timeout", DEFAULT_TIMEOUT)
        self.logout: Optional[Callable] = kwargs.pop("logout", None)
        adapter = kwargs.pop("adapter", None)
        if adapter:
            self.session.mount("https://", adapter)
            self.session.mount("http://", adapter)
        for attr, value in kwargs.items():
            setattr(self.session, attr, value)

    def url(self, endpoint: str) -> str:
        if self.base_url is None:
            return endpoint
        return urljoin(self.base_url, endpoint)

    def request(self, method: str, endpoint: str, **kwargs: Any):
        kwargs.setdefault("timeout", self.timeout)
        return self.session.request(method, self.url(endpoint), **kwargs)

    def close(self) -> None:
        """Logout-if-configured then close (the reference crashes when
        `logout` is None, clients.py:154-156 — intent preserved, bug
        not)."""
        try:
            if self.logout is not None:
                self.logout(self)
        finally:
            self.session.close()


class HTTPAuthenticator:
    """Session-auth injection (clients.py:369-420): static headers /
    query params / cookies / body fields applied to every request."""

    def __init__(
        self,
        headers: Optional[dict] = None,
        params: Optional[dict] = None,
        cookies: Optional[dict] = None,
        body: Optional[dict] = None,
    ) -> None:
        self.headers = headers or {}
        self.params = params or {}
        self.cookies = cookies or {}
        self.body = body or {}

    def apply(self, connection: Connection) -> None:
        connection.session.headers.update(self.headers)
        connection.session.params.update(self.params)
        connection.session.cookies.update(self.cookies)


class APIClient:
    """Verb client with retry/backoff (clients.py:172-366).

    :param configuration: dict with `url`, optional `auth`
        (HTTPAuthenticator), `login` (callable(Connection) for session
        login flows, clients.py:423-448), plus Connection kwargs.
    """

    def __init__(
        self,
        configuration: dict,
        retry_on_status: Iterable[int] = DEFAULT_RETRY_CODES,
        max_retries: int = DEFAULT_MAX_RETRIES,
        backoff_factor: float = DEFAULT_BACKOFF_FACTOR,
        **kwargs: Any,
    ) -> None:
        cfg = dict(configuration)
        url = cfg.pop("url", None)
        auth = cfg.pop("auth", None)
        login = cfg.pop("login", None)
        retry = Retry(
            total=max_retries,
            backoff_factor=backoff_factor,
            status_forcelist=list(retry_on_status),
            allowed_methods=None,  # retry all verbs (reference retries POSTs)
        )
        adapter = HTTPAdapter(max_retries=retry)
        self.connection = Connection(url, adapter=adapter, **cfg, **kwargs)
        if isinstance(auth, HTTPAuthenticator):
            auth.apply(self.connection)
        elif auth is not None:
            self.connection.session.auth = auth
        if login is not None:
            login(self.connection)

    def get(self, endpoint: str, **kwargs: Any):
        return self.connection.request("GET", endpoint, **kwargs)

    def post(self, endpoint: str, **kwargs: Any):
        return self.connection.request("POST", endpoint, **kwargs)

    def put(self, endpoint: str, **kwargs: Any):
        return self.connection.request("PUT", endpoint, **kwargs)

    def delete(self, endpoint: str, **kwargs: Any):
        return self.connection.request("DELETE", endpoint, **kwargs)

    def close(self) -> None:
        self.connection.close()


class HTTPLogin:
    """Form/session login flow (clients.py:423-448): a callable login
    object for `APIClient(configuration={'login': HTTPLogin(...)})`.

    Reference shape: HTTPLogin is itself a client that issues one
    `method` request to `url`+`endpoint` (credentials in `data`/`json`/
    `params`) and hands the response to the auth handler. Here the
    login request is issued ON the target connection's session, so
    whatever the server sets (session cookies, CSRF headers) lands on
    the session every subsequent request uses.

    Config keys mirror the reference: `method` (or `http-method` /
    `http_method`), `url` (or `host`; absolute with scheme — optional
    here, defaults to the parent connection's base), `endpoint`, plus
    any requests kwargs (`data`, `json`, `params`, `headers`).
    """

    def __init__(self, **kwargs: Any) -> None:
        self.method = kwargs.pop(
            "method", kwargs.pop("http-method", kwargs.pop("http_method", None))
        )
        self.url = kwargs.pop("url", kwargs.pop("host", None))
        self.endpoint = kwargs.pop("endpoint", "")
        self.request_kwargs = kwargs
        self.response: Any = None
        if not self.method:
            raise KeyError(
                "HTTP method must be defined for login event: add 'method' "
                "or 'http-method' key"
            )
        if self.url and not urlparse(self.url).scheme:
            raise MissingSchema(
                "Login URL must be absolute path, providing a connection "
                "scheme e.g., https://hostname"
            )

    def __call__(self, connection: "Connection"):
        target = (
            self.url.rstrip("/") + "/" + self.endpoint.lstrip("/")
            if self.url
            else self.endpoint
        )
        self.response = connection.request(self.method, target, **self.request_kwargs)
        self.response.raise_for_status()
        return self.response


def fetch_jsonl(
    client: APIClient,
    endpoint: str,
    path: str,
    paginate: Optional[Callable[[Any, int], Optional[str]]] = None,
    records: Callable[[Any], list] = lambda resp: resp.json(),
    max_pages: int = 10_000,
) -> str:
    """Stream an endpoint (with optional pagination) to a landing JSONL
    file for `spark.read.json`. `paginate(resp, page_no)` returns the
    next endpoint or None to stop."""
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    tmp = path + ".tmp"
    with open(tmp, "w", encoding="utf-8") as fh:
        page, n = endpoint, 0
        while page is not None and n < max_pages:
            resp = client.get(page)
            resp.raise_for_status()
            for rec in records(resp):
                fh.write(json.dumps(rec, ensure_ascii=False, default=str) + "\n")
            n += 1
            page = paginate(resp, n) if paginate else None
    os.replace(tmp, path)
    return path


def paginated_frame(
    spark,
    requests_spec: list[dict],
    schema: str,
    fetch: Optional[Callable[[dict], list]] = None,
):
    """Distributed fan-out: one row per request descriptor, pulled on
    executors via mapInPandas (each partition keeps one session alive).

    `requests_spec`: [{"url": ..., **params}, ...]; `fetch(spec) ->
    list[dict]` runs on executors (default: GET url → resp.json()).
    """
    import pandas as pd

    fetch = fetch or _default_fetch
    sdf = spark.createDataFrame(pd.DataFrame({"spec": [json.dumps(s) for s in requests_spec]}))

    def pull(batches):
        for pdf in batches:
            out = []
            for spec_json in pdf["spec"]:
                out.extend(fetch(json.loads(spec_json)))
            yield pd.DataFrame(out)

    return sdf.mapInPandas(pull, schema=schema)


def _default_fetch(spec: dict) -> list:
    resp = requests.get(spec["url"], timeout=DEFAULT_TIMEOUT)
    resp.raise_for_status()
    data = resp.json()
    return data if isinstance(data, list) else [data]
