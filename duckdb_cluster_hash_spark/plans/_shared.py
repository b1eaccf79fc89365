"""Helpers shared by more than one query-family module."""

from __future__ import annotations


_USER_TAG_KEY_SQL = "'{user:' || user_id::VARCHAR || '}'"
