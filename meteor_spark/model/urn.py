"""URN builders — the primary keys of the asset model.

Semantics mirror the reference's deterministic formatting
(reference: models/urn.go:5-15):

    TableURN     = "{service}::{host}/{database}/{name}"
    TopicURN     = "{service}::{host}/{name}"
    DashboardURN = "{service}::{host}/{id}"
    JobURN       = "{service}::{host}/{id}"

Plain-Python helpers for driver-side asset construction. Sources that
build URNs per row of a large frame do it in the JVM with
`F.format_string` over the same patterns.
"""

from __future__ import annotations


def table_urn(service: str, host: str, database: str, name: str) -> str:
    return f"{service}::{host}/{database}/{name}"


def topic_urn(service: str, host: str, name: str) -> str:
    return f"{service}::{host}/{name}"


def dashboard_urn(service: str, host: str, dashboard_id: str) -> str:
    return f"{service}::{host}/{dashboard_id}"


def job_urn(service: str, host: str, job_id: str) -> str:
    return f"{service}::{host}/{job_id}"


def user_urn(service: str, email: str) -> str:
    return f"{service}::{email}"

