"""Candidate scoring, selection, sibling joining and article cleanup.

From-scratch Python re-expression of the grabArticle algorithm
(``/root/reference/Sources/SwiftReadability/ArticleGrabber.swift``;
canonical behavior: ``tmp-readability/Readability.js`` ``_grabArticle``
and its helpers).  Runs per document inside the Arrow-batch UDF.

Faithfulness notes (quirks deliberately mirrored):
- the canonical ``_clean`` / ``_cleanConditionally`` compare
  ``tagName === "object"`` against the *uppercase* DOM tagName, so the
  object-innerHTML video check never fires; we mirror that by omitting it.
- scores are stored directly on nodes and reset per retry attempt by
  the DOM mutation-journal replay (``dom.journal_replay``): each score
  initialization is journaled, and its undo resets the score to None
  (the canonical code re-parses the cached innerHTML, which equally
  drops expando scores; <body>'s score is not journaled and survives,
  as the canonical expando does).
- after a failed chain, ``dir`` is read from the last attempt's top
  candidate as the canonical code sees it once the body is re-parsed:
  that attempt's nodes hang in detached subtrees, so the walk stops
  below <body> unless <body> is the candidate's parent.

Retry chain (``grab_article``): the canonical loop, restored between
attempts by the journal replay, with one exact cut.  Once a failed
attempt's normalized text is as long as the pristine <body>'s, no later
attempt can be longer: an article is an in-order subsequence of the
body's text nodes (nothing outside <body> is joined, no text is
created), and collapsing whitespace runs cannot make a subsequence
longer (each non-space character counts once and each whitespace run
once).  The stable best-attempt sort keeps the earliest longest
attempt, which has then already run, so the chain stops.  ``dir``
alone comes from the *last* attempt, so a page where any element
carries ``dir`` runs the chain out.  An older skip of retries whose
relaxed flag had gated nothing is gone: with the cut in place it ran
no fewer attempts on the benchmark's pages (1.000 per document on
interleaved and ``corpus.synth`` pages either way) and needed four
per-attempt trackers.  ``tests/test_retry_twin.py`` holds the
canonical loop as a twin.
"""

from __future__ import annotations

import math
import re

from . import dom as _dom
from . import regexps as R
from .dom import Document, Element, Node, js_trim
from .helpers import (
    get_char_count,
    get_inner_text,
    get_link_density,
    get_next_node,
    get_node_ancestors,
    has_ancestor_tag,
    has_child_block_element,
    has_single_tag_inside_element,
    is_element_without_content,
    is_phrasing_content,
    is_probably_visible,
    is_whitespace,
    next_significant_node,
    remove_and_get_next,
    set_node_tag,
    text_similarity,
)

_PARSE_INT = re.compile(r"^\s*([+-]?\d+)")
_SENTENCE_DOT = re.compile(r"\.( |$)")

DEFAULT_N_TOP_CANDIDATES = 5
DEFAULT_CHAR_THRESHOLD = 500


def _has_descendant_tag(element: Element, tags: tuple[str, ...]) -> bool:
    """Early-exit descendant probe (avoids building full tag lists)."""
    stack = list(element.children)
    while stack:
        n = stack.pop()
        if n.IS_ELEMENT:
            if n.tag in tags:
                return True
            stack.extend(n.children)
    return False


def _parse_int(value: str | None) -> int:
    """JS parseInt semantics: leading integer or 0."""
    if not value:
        return 0
    m = _PARSE_INT.match(value)
    return int(m.group(1)) if m else 0


# class+id regex memo: the prepareNodes walk evaluates
# unlikelyCandidates / okMaybeItsACandidate / byline patterns on the
# "class id" string of EVERY node, and real corpora repeat the same
# combination across thousands of nodes (and across documents from the
# same site inside an Arrow batch).  Size-capped like the tokenizer's
# attribute memo.
_MATCH_MEMO: dict[str, tuple[bool, bool]] = {}
_MATCH_MEMO_CAP = 1 << 16

# class-weight memo: POSITIVE/NEGATIVE on a single class or id string
# (weight contribution of one string: -25/0/+25/...).
_WEIGHT_MEMO: dict[str, int] = {}


def _match_flags(match_string: str) -> tuple[bool, bool]:
    """(is_unlikely_candidate, looks_byline) for a class+id string."""
    hit = _MATCH_MEMO.get(match_string)
    if hit is None:
        if len(_MATCH_MEMO) >= _MATCH_MEMO_CAP:
            _MATCH_MEMO.clear()
        hit = (
            R.UNLIKELY_CANDIDATES.search(match_string) is not None
            and R.OK_MAYBE_ITS_A_CANDIDATE.search(match_string) is None,
            R.BYLINE.search(match_string) is not None,
        )
        _MATCH_MEMO[match_string] = hit
    return hit


def _string_weight(s: str) -> int:
    hit = _WEIGHT_MEMO.get(s)
    if hit is None:
        if len(_WEIGHT_MEMO) >= _MATCH_MEMO_CAP:
            _WEIGHT_MEMO.clear()
        hit = 0
        if R.NEGATIVE.search(s):
            hit -= 25
        if R.POSITIVE.search(s):
            hit += 25
        _WEIGHT_MEMO[s] = hit
    return hit


class Grabber:
    def __init__(
        self,
        doc: Document,
        metadata: dict,
        *,
        nb_top_candidates: int = DEFAULT_N_TOP_CANDIDATES,
        char_threshold: int = DEFAULT_CHAR_THRESHOLD,
        allowed_video_regex=None,
        link_density_modifier: float = 0.0,
    ):
        self.doc = doc
        self.metadata = metadata
        self.article_title: str = metadata.get("title") or ""
        self.article_byline: str | None = None
        self.article_dir: str | None = None
        self.article_lang: str | None = None
        self.nb_top_candidates = nb_top_candidates
        self.char_threshold = char_threshold
        self.allowed_video_regex = allowed_video_regex or R.VIDEOS
        self.link_density_modifier = link_density_modifier
        # degradation flags (ArticleGrabberOptions in the reference,
        # Models.swift:48-52)
        self.flag_strip_unlikelys = True
        self.flag_weight_classes = True
        self.flag_clean_conditionally = True
        self.attempts: list[tuple[Element, int]] = []

    # ------------------------------------------------------------------
    # scoring primitives
    # ------------------------------------------------------------------
    def get_class_weight(self, e: Element) -> int:
        if not self.flag_weight_classes:
            return 0
        weight = 0
        class_name = e.class_name
        if class_name:
            weight += _string_weight(class_name)
        el_id = e.id
        if el_id:
            weight += _string_weight(el_id)
        return weight

    def initialize_node(self, node: Element) -> None:
        score = 0.0
        tag = node.tag
        if tag == "div":
            score += 5
        elif tag in ("pre", "td", "blockquote"):
            score += 3
        elif tag in ("address", "ol", "ul", "dl", "dd", "dt", "li", "form"):
            score -= 3
        elif tag in ("h1", "h2", "h3", "h4", "h5", "h6", "th"):
            score -= 5
        score += self.get_class_weight(node)
        # journal the initialization (not every later score write): all
        # scores start at None each attempt, so the undo is a reset to
        # None.  <body> is deliberately NOT journaled — its score
        # accumulates across attempts, mirroring the canonical JS
        # expando surviving the body.innerHTML restore.
        if _dom._journal is not None and node.tag != "body":
            _dom._journal.append((5, node))
        node.readability = score

    # ------------------------------------------------------------------
    # byline / header-vs-title
    # ------------------------------------------------------------------
    def _is_valid_byline(self, node: Element, match_string: str) -> bool:
        # cheap attribute/regex gates first: the subtree text walk runs
        # only for the rare nodes that look byline-ish at all (this is
        # called for every node until a byline is found)
        rel = node.get_attr("rel")
        itemprop = node.get_attr("itemprop")
        if not (
            rel == "author"
            or (itemprop is not None and "author" in itemprop)
            or _match_flags(match_string)[1]
        ):
            return False
        byline_length = len(js_trim(node.text_content))
        return 0 < byline_length < 100

    def _header_duplicates_title(self, node: Element) -> bool:
        if node.tag not in ("h1", "h2"):
            return False
        heading = get_inner_text(node, False)
        return text_similarity(self.article_title, heading) > 0.75

    # ------------------------------------------------------------------
    # the main loop
    # ------------------------------------------------------------------
    def grab_article(self) -> Element | None:
        doc = self.doc
        page = doc.body
        if page is None:
            return None
        # Retry rollback via the DOM mutation journal (dom.journal_*):
        # the canonical code caches page.innerHTML up front and
        # re-parses on failure; rounds 1-2 deep-cloned the body up
        # front on EVERY document (~2.5 ms/doc paid even when the
        # first attempt succeeds, ~80% of documents).  Journaling is
        # near-free on the success path; on failure the journal is
        # replayed in reverse (body subtree restored exactly; <html>/
        # <head>-level removals re-applied, matching the innerHTML-
        # only restore — see dom.journal_replay).
        body_length = None
        try:
            _dom.journal_start()
            while True:
                article = self._grab_once()
                text_length = len(get_inner_text(article, True))
                if text_length >= self.char_threshold:
                    self._set_article_dir()
                    return article

                # failed attempt: the journal replay moves the live
                # nodes back into the page, so keep a detached CLONE
                # for the best-attempt fallback (the canonical analogue
                # keeps the old nodes because re-parsing made new ones)
                self.attempts.append((article.clone(), text_length))
                journal = _dom._journal
                _dom.journal_stop()
                _dom.journal_replay(journal, doc)

                # exact cut (module docstring): no attempt is longer
                # than the pristine body, so one as long ends the chain
                # unless ``dir`` could still change
                if body_length is None:
                    body_length = len(get_inner_text(page, True))
                    has_dir = any(
                        n.IS_ELEMENT and "dir" in n.attrs for n in doc.iter_subtree()
                    )
                if text_length == body_length and not has_dir:
                    break
                if self.flag_strip_unlikelys:
                    self.flag_strip_unlikelys = False
                elif self.flag_weight_classes:
                    self.flag_weight_classes = False
                elif self.flag_clean_conditionally:
                    self.flag_clean_conditionally = False
                else:
                    break
                _dom.journal_start()
            # best-attempt fallback: the stable sort keeps the earliest
            # longest attempt
            self.attempts.sort(key=lambda a: a[1], reverse=True)
            if not self.attempts[0][1]:
                return None
            self._set_article_dir(restored=True)
            return self.attempts[0][0]
        except BaseException:
            # mid-attempt failure: replay the active journal before
            # propagating, so a caller that catches the exception and
            # reuses the document never sees a half-mutated tree.
            # Inter-attempt windows are covered too (ADVICE r04): after
            # journal_stop the tree is either already pristine (the
            # flag-relax / attempts.sort block runs post-replay) or
            # journal_replay itself raised — and that function salvages
            # its remaining undos internally before re-raising, so
            # _journal is None here exactly when no further restore is
            # needed or possible.
            journal = _dom._journal
            _dom.journal_stop()
            if journal is not None:
                _dom.journal_replay(journal, doc)
            raise
        finally:
            _dom.journal_stop()

    def _grab_once(self) -> Element:
        doc = self.doc
        page = doc.body
        strip_unlikely = self.flag_strip_unlikelys

        elements_to_score: list[Element] = []
        node: Element | None = doc.document_element
        should_remove_title_header = True

        # ---- phase 1: prepareNodes walk -------------------------------
        while node is not None:
            if node.tag == "html":
                self.article_lang = node.get_attr("lang")

            attrs = node.attrs
            match_string = attrs.get("class", "") + " " + attrs.get("id", "")

            if not is_probably_visible(node):
                node = remove_and_get_next(node)
                continue

            if (
                node.get_attr("aria-modal") == "true"
                and node.get_attr("role") == "dialog"
            ):
                node = remove_and_get_next(node)
                continue

            if (
                self.article_byline is None
                and not self.metadata.get("byline")
                and self._is_valid_byline(node, match_string)
            ):
                # prefer an [itemprop~=name] descendant text if present
                end_marker = get_next_node(node, True)
                nxt = get_next_node(node)
                itemprop_name_node = None
                while nxt is not None and nxt is not end_marker:
                    itemprop = nxt.get_attr("itemprop")
                    if itemprop and "name" in itemprop:
                        itemprop_name_node = nxt
                        break
                    nxt = get_next_node(nxt)
                chosen = itemprop_name_node if itemprop_name_node is not None else node
                self.article_byline = js_trim(chosen.text_content)
                node = remove_and_get_next(node)
                continue

            if should_remove_title_header and self._header_duplicates_title(node):
                should_remove_title_header = False
                node = remove_and_get_next(node)
                continue

            if strip_unlikely:
                if (
                    _match_flags(match_string)[0]
                    and not has_ancestor_tag(node, "table")
                    and not has_ancestor_tag(node, "code")
                    and node.tag != "body"
                    and node.tag != "a"
                ):
                    node = remove_and_get_next(node)
                    continue
                role = node.get_attr("role")
                if role in R.UNLIKELY_ROLES:
                    node = remove_and_get_next(node)
                    continue

            if node.tag in (
                "div", "section", "header", "h1", "h2", "h3", "h4", "h5", "h6",
            ) and is_element_without_content(node):
                node = remove_and_get_next(node)
                continue

            if node.tag in R.DEFAULT_TAGS_TO_SCORE:
                elements_to_score.append(node)

            if node.tag == "div":
                # wrap runs of phrasing content into <p>
                child = node.first_child
                while child is not None:
                    next_sibling = child.next_sibling
                    if is_phrasing_content(child):
                        fragment: list[Node] = []
                        while child is not None and is_phrasing_content(child):
                            next_sibling = child.next_sibling
                            child.remove()
                            fragment.append(child)
                            child = next_sibling
                        while fragment and is_whitespace(fragment[0]):
                            fragment.pop(0)
                        while fragment and is_whitespace(fragment[-1]):
                            fragment.pop()
                        if fragment:
                            p = doc.create_element("p")
                            for f in fragment:
                                p.append_child(f)
                            node.insert_before(p, next_sibling)
                    child = next_sibling

                if (
                    has_single_tag_inside_element(node, "p")
                    and get_link_density(node) < 0.25
                ):
                    new_node = node.element_children[0]
                    node.parent.replace_child(new_node, node)
                    node = new_node
                    elements_to_score.append(node)
                elif not has_child_block_element(node):
                    node = set_node_tag(node, "p")
                    elements_to_score.append(node)
            node = get_next_node(node)

        # ---- phase 2: score elements ----------------------------------
        # an element is scorable only when its parent is a real element
        # (the canonical code skips nodes whose parent lacks a tagName,
        # which also excludes <html> itself from ever being initialized)
        def _has_element_parent(el: Element) -> bool:
            return (
                el.parent is not None
                and isinstance(el.parent, Element)
                and not el.parent.tag.startswith("#")
            )

        candidates: list[Element] = []
        for element in elements_to_score:
            if not _has_element_parent(element):
                continue
            inner_text = get_inner_text(element)
            if len(inner_text) < 25:
                continue
            ancestors = get_node_ancestors(element, 5)
            ancestors = [a for a in ancestors if not a.tag.startswith("#")]
            if not ancestors:
                continue

            content_score = 1.0
            content_score += len(R.COMMAS.split(inner_text))
            content_score += min(len(inner_text) // 100, 3)

            for level, ancestor in enumerate(ancestors):
                if not _has_element_parent(ancestor):
                    continue
                if ancestor.readability is None:
                    self.initialize_node(ancestor)
                    candidates.append(ancestor)
                if level == 0:
                    divider = 1.0
                elif level == 1:
                    divider = 2.0
                else:
                    divider = level * 3.0
                ancestor.readability += content_score / divider

        # ---- phase 3: top candidate selection -------------------------
        top_candidates: list[Element] = []
        for candidate in candidates:
            candidate_score = candidate.readability * (
                1 - get_link_density(candidate)
            )
            candidate.readability = candidate_score
            for t in range(self.nb_top_candidates):
                if (
                    t >= len(top_candidates)
                    or candidate_score > top_candidates[t].readability
                ):
                    top_candidates.insert(t, candidate)
                    if len(top_candidates) > self.nb_top_candidates:
                        top_candidates.pop()
                    break

        top_candidate = top_candidates[0] if top_candidates else None
        needed_to_create_top_candidate = False
        parent_of_top_candidate: Element | None = None

        if top_candidate is None or top_candidate.tag == "body":
            top_candidate = doc.create_element("div")
            needed_to_create_top_candidate = True
            for child in list(page.children):
                top_candidate.append_child(child)
            page.append_child(top_candidate)
            self.initialize_node(top_candidate)
        else:
            # promote a shared ancestor of >=3 strong alternatives
            # JS division: x/0 is +Infinity (passes >= 0.75 when x > 0)
            top_score = top_candidate.readability
            alternative_ancestors = [
                get_node_ancestors(tc)
                for tc in top_candidates[1:]
                if (
                    (tc.readability / top_score)
                    if top_score != 0
                    else (math.inf if tc.readability > 0 else 0.0)
                )
                >= 0.75
            ]
            MINIMUM_TOPCANDIDATES = 3
            if len(alternative_ancestors) >= MINIMUM_TOPCANDIDATES:
                parent_of_top_candidate = top_candidate.parent
                while (
                    parent_of_top_candidate is not None
                    and parent_of_top_candidate.tag != "body"
                ):
                    lists_containing = 0
                    for ancestor_list in alternative_ancestors:
                        if lists_containing >= MINIMUM_TOPCANDIDATES:
                            break
                        if parent_of_top_candidate in ancestor_list:
                            lists_containing += 1
                    if lists_containing >= MINIMUM_TOPCANDIDATES:
                        top_candidate = parent_of_top_candidate
                        break
                    parent_of_top_candidate = parent_of_top_candidate.parent
            if top_candidate.readability is None:
                self.initialize_node(top_candidate)

            # climb parents whose score rises
            parent_of_top_candidate = top_candidate.parent
            last_score = top_candidate.readability
            score_threshold = last_score / 3
            while (
                parent_of_top_candidate is not None
                and parent_of_top_candidate.tag != "body"
            ):
                if parent_of_top_candidate.readability is None:
                    parent_of_top_candidate = parent_of_top_candidate.parent
                    continue
                parent_score = parent_of_top_candidate.readability
                if parent_score < score_threshold:
                    break
                if parent_score > last_score:
                    top_candidate = parent_of_top_candidate
                    break
                last_score = parent_of_top_candidate.readability
                parent_of_top_candidate = parent_of_top_candidate.parent

            # if only child, climb to parent
            parent_of_top_candidate = top_candidate.parent
            while (
                parent_of_top_candidate is not None
                and parent_of_top_candidate.tag != "body"
                and len(parent_of_top_candidate.element_children) == 1
            ):
                top_candidate = parent_of_top_candidate
                parent_of_top_candidate = top_candidate.parent
            if top_candidate.readability is None:
                self.initialize_node(top_candidate)

        # ---- phase 4: sibling joining ---------------------------------
        article_content = doc.create_element("div")
        sibling_score_threshold = max(10.0, top_candidate.readability * 0.2)
        parent_of_top_candidate = top_candidate.parent
        self._parent_of_top_candidate = parent_of_top_candidate
        self._top_candidate = top_candidate

        siblings = parent_of_top_candidate.element_children
        s = 0
        while s < len(siblings):
            sibling = siblings[s]
            append = False
            if sibling is top_candidate:
                append = True
            else:
                content_bonus = 0.0
                if (
                    sibling.class_name == top_candidate.class_name
                    and top_candidate.class_name != ""
                ):
                    content_bonus += top_candidate.readability * 0.2
                if (
                    sibling.readability is not None
                    and sibling.readability + content_bonus >= sibling_score_threshold
                ):
                    append = True
                elif sibling.tag == "p":
                    link_density = get_link_density(sibling)
                    node_content = get_inner_text(sibling)
                    node_length = len(node_content)
                    if node_length > 80 and link_density < 0.25:
                        append = True
                    elif (
                        node_length < 80
                        and node_length > 0
                        and link_density == 0
                        and _SENTENCE_DOT.search(node_content)
                    ):
                        append = True

            if append:
                if sibling.tag not in R.ALTER_TO_DIV_EXCEPTIONS:
                    sibling = set_node_tag(sibling, "div")
                article_content.append_child(sibling)
                siblings = parent_of_top_candidate.element_children
            else:
                s += 1

        # ---- phase 5: cleanup -----------------------------------------
        self.prep_article(article_content)

        if needed_to_create_top_candidate:
            top_candidate.id = "readability-page-1"
            top_candidate.class_name = "page"
        else:
            div = doc.create_element("div")
            div.id = "readability-page-1"
            div.class_name = "page"
            for child in list(article_content.children):
                div.append_child(child)
            article_content.append_child(div)

        return article_content

    def _set_article_dir(self, restored: bool = False) -> None:
        """``dir`` from the last attempt's top candidate, its parent
        and the parent's ancestors.  ``restored``: the chain failed and
        the page was restored; the canonical restore re-parses the
        body's HTML, which leaves the last attempt's nodes in detached
        subtrees, so unless the parent is <body> itself the walk ends
        below <body>."""
        parent = getattr(self, "_parent_of_top_candidate", None)
        top = getattr(self, "_top_candidate", None)
        if parent is None or top is None:
            return
        page = self.doc.body
        ancestors: list[Element] = [parent, top]
        ancestors.extend(get_node_ancestors(parent))
        for ancestor in ancestors:
            if restored and ancestor is page and parent is not page:
                return
            if not isinstance(ancestor, Element) or ancestor.tag.startswith("#"):
                continue
            article_dir = ancestor.get_attr("dir")
            if article_dir:
                self.article_dir = article_dir
                return

    # ------------------------------------------------------------------
    # prepArticle and its cleaners
    # ------------------------------------------------------------------
    def prep_article(self, article_content: Element) -> None:
        self.clean_styles(article_content)
        self.mark_data_tables(article_content)
        self.fix_lazy_images(article_content)

        self.clean_conditionally_group(article_content, ("form", "fieldset"))
        # one walk for the five unconditional cleans (same per-tag
        # removal order as five separate sweeps; nested victims are
        # skipped via the attachment check)
        self.clean_group(
            article_content, ("object", "embed", "footer", "link", "aside")
        )

        share_element_threshold = DEFAULT_CHAR_THRESHOLD
        for top_candidate in article_content.element_children:
            self.clean_matched_nodes(
                top_candidate,
                lambda node, match_string: bool(R.SHARE_ELEMENTS.search(match_string))
                and len(node.text_content) < share_element_threshold,
            )

        self.clean_group(
            article_content, ("iframe", "input", "textarea", "select", "button")
        )
        self.clean_headers(article_content)

        self.clean_conditionally_group(article_content, ("table", "ul", "div"))

        # ONE walk collects the four final-sweep tag lists (h1/p/br/
        # table); each pass below re-checks live state (parent guards,
        # descendant probes), and mutations on subtrees detached by an
        # earlier pass are output-invisible, so pre-collected lists are
        # equivalent to four sequential get_elements_by_tag sweeps
        h1s: list[Element] = []
        ps: list[Element] = []
        brs: list[Element] = []
        tables: list[Element] = []
        stack = article_content.children[::-1]
        pop = stack.pop
        extend = stack.extend
        while stack:
            nd = pop()
            if nd.IS_ELEMENT:
                tag = nd.tag
                if tag == "p":
                    ps.append(nd)
                elif tag == "br":
                    brs.append(nd)
                elif tag == "table":
                    tables.append(nd)
                elif tag == "h1":
                    h1s.append(nd)
                if nd.children:
                    extend(nd.children[::-1])

        for h1 in h1s:
            set_node_tag(h1, "h2")

        for paragraph in reversed(ps):
            if paragraph.parent is None:
                continue
            if not _has_descendant_tag(
                paragraph, ("img", "embed", "object", "iframe")
            ) and not get_inner_text(paragraph, False):
                paragraph.remove()

        for br in brs:
            if br.parent is None:
                continue
            nxt = next_significant_node(br.next_sibling)
            if nxt is not None and isinstance(nxt, Element) and nxt.tag == "p":
                br.remove()

        for table in tables:
            if table.parent is None:
                continue
            tbody = (
                table.first_element_child
                if has_single_tag_inside_element(table, "tbody")
                else table
            )
            if has_single_tag_inside_element(tbody, "tr"):
                row = tbody.first_element_child
                if has_single_tag_inside_element(row, "td"):
                    cell = row.first_element_child
                    tag = (
                        "p"
                        if all(is_phrasing_content(c) for c in cell.children)
                        else "div"
                    )
                    cell = set_node_tag(cell, tag)
                    table.parent.replace_child(cell, table)

    _PRESENTATIONAL_SET = frozenset(R.PRESENTATIONAL_ATTRIBUTES)

    def clean_styles(self, e: Element) -> None:
        if e.tag == "svg":
            return
        attrs = e.attrs
        if attrs:
            # remove_attr (not raw del): journaled for retry rollback
            for k in list(attrs.keys() & self._PRESENTATIONAL_SET):
                e.remove_attr(k)
            if e.tag in R.DEPRECATED_SIZE_ATTRIBUTE_ELEMS:
                e.remove_attr("width")
                e.remove_attr("height")
        for child in e.children:
            if child.IS_ELEMENT:
                self.clean_styles(child)

    def mark_data_tables(self, root: Element) -> None:
        journal = _dom._journal
        for table in root.get_elements_by_tag("table"):
            if journal is not None:
                journal.append((6, table))  # undo: _data_table -> None
            if table.get_attr("role") == "presentation":
                table._data_table = False
                continue
            if table.get_attr("datatable") == "0":
                table._data_table = False
                continue
            if table.get_attr("summary"):
                table._data_table = True
                continue
            captions = table.get_elements_by_tag("caption")
            if captions and captions[0].children:
                table._data_table = True
                continue
            if any(
                table.get_elements_by_tag(tag)
                for tag in ("col", "colgroup", "tfoot", "thead", "th")
            ):
                table._data_table = True
                continue
            if table.get_elements_by_tag("table"):
                table._data_table = False
                continue
            rows, columns = self._get_row_and_column_count(table)
            if rows == 1 or columns == 1:
                table._data_table = False
                continue
            if rows >= 10 or columns > 4:
                table._data_table = True
                continue
            table._data_table = rows * columns > 10

    @staticmethod
    def _get_row_and_column_count(table: Element) -> tuple[int, int]:
        rows = 0
        columns = 0
        for tr in table.get_elements_by_tag("tr"):
            rowspan = _parse_int(tr.get_attr("rowspan"))
            rows += rowspan or 1
            columns_in_row = 0
            for cell in tr.get_elements_by_tag("td"):
                colspan = _parse_int(cell.get_attr("colspan"))
                columns_in_row += colspan or 1
            columns = max(columns, columns_in_row)
        return rows, columns

    def fix_lazy_images(self, root: Element) -> None:
        for elem in root.get_elements_by_tag("img", "picture", "figure"):
            src = elem.get_attr("src")
            if src and R.B64_DATA_URL.search(src):
                parts = R.B64_DATA_URL.search(src)
                if parts.group(1) != "image/svg+xml":
                    src_could_be_removed = False
                    for name, value in elem.attrs.items():
                        if name == "src":
                            continue
                        if R.IMG_EXT.search(value):
                            src_could_be_removed = True
                            break
                    if src_could_be_removed:
                        b64_starts = parts.end()
                        b64_length = len(src) - b64_starts
                        if b64_length < 133:
                            elem.remove_attr("src")

            srcset = elem.get_attr("srcset")
            if (elem.get_attr("src") or (srcset and srcset != "null")) and (
                "lazy" not in elem.class_name.lower()
            ):
                continue

            for name, value in list(elem.attrs.items()):
                if name in ("src", "srcset", "alt"):
                    continue
                copy_to = None
                if R.IMG_EXT_SRCSET.search(value):
                    copy_to = "srcset"
                elif R.IMG_EXT_SRC.search(value):
                    copy_to = "src"
                if copy_to:
                    if elem.tag in ("img", "picture"):
                        elem.set_attr(copy_to, value)
                    elif elem.tag == "figure" and not elem.get_elements_by_tag(
                        "img", "picture"
                    ):
                        img = self.doc.create_element("img")
                        img.set_attr(copy_to, value)
                        elem.append_child(img)

    def _embed_is_allowed_video(self, element: Element) -> bool:
        for value in element.attrs.values():
            if self.allowed_video_regex.search(value):
                return True
        # NOTE: the canonical implementation also intends to match the
        # inner HTML of <object> embeds, but compares against the
        # uppercase tagName so the branch never executes; mirrored here
        # by design for fixture parity.
        return False

    def clean(self, e: Element, tag: str) -> None:
        self.clean_group(e, (tag,))

    @staticmethod
    def _is_attached(element: Element, root: Element) -> bool:
        cur = element.parent
        while cur is not None:
            if cur is root:
                return True
            cur = cur.parent
        return False

    def clean_group(self, e: Element, tags: tuple[str, ...]) -> None:
        """_clean for several tags with a single subtree walk.
        Equivalent to sequential per-tag sweeps: elements are removed
        tag by tag in reverse document order, and an element already
        detached by an earlier tag's removal is skipped."""
        by_tag: dict[str, list[Element]] = {t: [] for t in tags}
        stack = e.children[::-1]
        while stack:
            n = stack.pop()
            if n.IS_ELEMENT:
                if n.tag in by_tag:
                    by_tag[n.tag].append(n)
                stack.extend(n.children[::-1])
        for tag in tags:
            is_embed = tag in ("object", "embed", "iframe")
            for element in reversed(by_tag[tag]):
                if element.parent is None or not self._is_attached(element, e):
                    continue
                if is_embed and self._embed_is_allowed_video(element):
                    continue
                element.remove()

    def clean_matched_nodes(self, e: Element, filter_fn) -> None:
        end_of_search = get_next_node(e, True)
        nxt = get_next_node(e)
        while nxt is not None and nxt is not end_of_search:
            if filter_fn(nxt, nxt.class_name + " " + nxt.id):
                nxt = remove_and_get_next(nxt)
            else:
                nxt = get_next_node(nxt)

    def clean_headers(self, e: Element) -> None:
        for node in reversed(e.get_elements_by_tag("h1", "h2")):
            if node.parent is None:
                continue
            if self.get_class_weight(node) < 0:
                node.remove()

    def clean_conditionally_group(self, e: Element, tags: tuple[str, ...]) -> None:
        """cleanConditionally for several tags with ONE subtree walk.
        Equivalent to sequential per-tag sweeps: tags are processed in
        order over pre-collected lists, heuristics read live state, and
        the attachment check skips elements detached by an earlier
        tag's removals (the per-tag recollection did that implicitly);
        removals never ADD elements of a later tag, and reverse
        document order means a same-tag ancestor is processed after
        its descendants (exactly as before)."""
        if not self.flag_clean_conditionally:
            return
        by_tag: dict[str, list[Element]] = {t: [] for t in tags}
        stack = e.children[::-1]
        while stack:
            n = stack.pop()
            if n.IS_ELEMENT:
                lst = by_tag.get(n.tag)
                if lst is not None:
                    lst.append(n)
                if n.children:
                    stack.extend(n.children[::-1])
        for tag in tags:
            for node in reversed(by_tag[tag]):
                if node.parent is None or not self._is_attached(node, e):
                    continue
                if self._should_clean_conditionally(node, tag):
                    node.remove()

    # tags whose ELEMENT LISTS the conditional-clean heuristics need
    # (beyond the counts); every use below is an order-independent sum
    # or any(), so per-tag lists from one walk are equivalent to the
    # interleaved get_elements_by_tag results
    _CENSUS_LISTS = frozenset(
        ("ul", "ol", "table", "object", "embed", "iframe",
         "h1", "h2", "h3", "h4", "h5", "h6", "span", "li", "td")
    ) | R.DIV_TO_P_ELEMS

    @classmethod
    def _tag_census(cls, element: Element) -> tuple[dict, dict]:
        """One subtree walk producing (tag -> count) for every tag AND
        (tag -> [elements]) for the tags the heuristics inspect —
        replaces up to seven per-tag walks of the same candidate
        subtree per cleanConditionally decision."""
        counts: dict[str, int] = {}
        want = cls._CENSUS_LISTS
        lists: dict[str, list] = {}
        stack = list(element.children)
        pop = stack.pop
        extend = stack.extend
        while stack:
            n = pop()
            if n.IS_ELEMENT:
                tag = n.tag
                counts[tag] = counts.get(tag, 0) + 1
                if tag in want:
                    lst = lists.get(tag)
                    if lst is None:
                        lists[tag] = [n]
                    else:
                        lst.append(n)
                if n.children:
                    extend(n.children)
        return counts, lists

    def _should_clean_conditionally(self, node: Element, tag: str) -> bool:
        def is_data_table(t: Element) -> bool:
            return bool(t._data_table)

        census, found = self._tag_census(node)

        is_list = tag in ("ul", "ol")
        if not is_list and (census.get("ul") or census.get("ol")):
            list_length = 0
            for lst in found.get("ul", ()) :
                list_length += len(get_inner_text(lst))
            for lst in found.get("ol", ()):
                list_length += len(get_inner_text(lst))
            total = len(get_inner_text(node))
            is_list = total > 0 and list_length / total > 0.9

        if tag == "table" and is_data_table(node):
            return False
        if has_ancestor_tag(node, "table", -1, is_data_table):
            return False
        if has_ancestor_tag(node, "code"):
            return False
        if census.get("table") and any(
            is_data_table(t) for t in found.get("table", ())
        ):
            return False

        weight = self.get_class_weight(node)
        if weight < 0:
            return True

        if get_char_count(node, R.COMMAS) < 10:
            p = census.get("p", 0)
            img = census.get("img", 0)
            li = census.get("li", 0) - 100
            input_count = census.get("input", 0)
            node_text_len = len(get_inner_text(node, True))
            heading_density = (
                0.0
                if node_text_len == 0
                else sum(
                    len(get_inner_text(h, True))
                    for t in ("h1", "h2", "h3", "h4", "h5", "h6")
                    for h in found.get(t, ())
                )
                / node_text_len
            )

            embed_count = 0
            if census.get("object") or census.get("embed") or census.get("iframe"):
                for t in ("object", "embed", "iframe"):
                    for embed in found.get(t, ()):
                        if self._embed_is_allowed_video(embed):
                            return False
                        embed_count += 1

            inner_text = get_inner_text(node)
            if R.AD_WORDS.search(inner_text) or R.LOADING_WORDS.search(inner_text):
                return True

            content_length = len(inner_text)
            link_density = get_link_density(node)
            textish_tags = ("span", "li", "td") + tuple(R.DIV_TO_P_ELEMS)
            text_density = (
                0.0
                if node_text_len == 0
                else sum(
                    len(get_inner_text(c, True))
                    for t in textish_tags
                    for c in found.get(t, ())
                )
                / node_text_len
            )
            is_figure_child = has_ancestor_tag(node, "figure")

            have_to_remove = (
                (not is_figure_child and img > 1 and p / img < 0.5)
                or (not is_list and li > p)
                or (input_count > p // 3)
                or (
                    not is_list
                    and not is_figure_child
                    and heading_density < 0.9
                    and content_length < 25
                    and (img == 0 or img > 2)
                    and link_density > 0
                )
                or (
                    not is_list
                    and weight < 25
                    and link_density > 0.2 + self.link_density_modifier
                )
                or (weight >= 25 and link_density > 0.5 + self.link_density_modifier)
                or ((embed_count == 1 and content_length < 75) or embed_count > 1)
                or (img == 0 and text_density == 0)
            )

            if is_list and have_to_remove:
                for child in node.element_children:
                    if len(child.element_children) > 1:
                        return have_to_remove
                if img == census.get("li", 0):
                    return False
            return have_to_remove
        return False
