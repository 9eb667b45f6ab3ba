"""JATS reference repair transforms (reference ``fix_jats_xml.py``).

Re-implements the reference's per-reference repair pipeline
(fix_jats_xml.py:263-770) over stdlib ElementTree:

- normalize pub-id-type casing (fix_jats_xml.py:727-735)
- re-fit annotations to the matching value text: doi (with [doi]/[pii]
  suffix strip, duplicate-doi removal, truncation at known stop tokens),
  pii, pmid, pmcid, ext-link, article-title (quote/comma cleanup)
- convert doi annotations preceded by a doi.org url prefix into ext-links
- split ext-links containing several concatenated urls
- add missing pmid/pmcid/pii/wos/doi annotations found in the citation
  text, child tails, or <comment> elements

The per-reference invariant (asserted by the reference's own tests and ours):
repairs MOVE annotation boundaries but never change the reference's overall
text content.

Spark integration: :func:`fix_jats_xml_column` runs the repair as an
Arrow-batched ``mapInPandas`` stage over an XML string column — each document
is independent, so the stage is embarrassingly parallel and adds no shuffle.
"""

from __future__ import annotations

import re
import unicodedata
from collections import Counter
from typing import Callable, Dict, List, Optional, Tuple

import xml.etree.ElementTree as ET

XLINK_NS = "http://www.w3.org/1999/xlink"
XLINK_HREF = "{%s}href" % XLINK_NS
ET.register_namespace("xlink", XLINK_NS)


class JatsXpaths:
    REF = ".//back/ref-list/ref"
    MIXED_CITATION = ".//mixed-citation"
    ARTICLE_TITLE = ".//article-title"
    EXT_LINK = ".//ext-link"
    PUB_ID = ".//pub-id"
    DOI = './/pub-id[@pub-id-type="doi"]'
    PII = './/pub-id[@pub-id-type="pii"]'
    PMID = './/pub-id[@pub-id-type="pmid"]'
    PMCID = './/pub-id[@pub-id-type="pmcid"]'
    OTHER_PUB_ID = './/pub-id[@pub-id-type="other"]'


LSQUO = "‘"
RSQUO = "’"
LDQUO = "“"
RDQUO = "”"

LEFT_QUOTE_CHARS = {'"', LSQUO, LDQUO}
RIGHT_BY_LEFT_QUOTE_CHAR = {'"': '"', LSQUO: RSQUO, LDQUO: RSQUO}

# fix_jats_xml.py:81-101
DOI_PATTERN = r"\b(10\.\d{4,}(?:\.\d{1,})*/.+)"
PII_VALID_PATTERN = r"\b([S,B]\W*(?:[0-9xX]\W*){15,}[0-9xX])"
PII_OTHER_PATTERN = r"(?:doi\:)?\b(\S{5,})\s*\[pii\]"
PMID_FIX_PATTERN = r"(?:PMID\s*\:\s*)?\b(\d{1,10})\b"
PMID_PATTERN = r"(?:PMID\s*\:\s*)(\d{1,10})\b"
PMCID_PATTERN = r"(PMC\d{1,})"
WOS_PATTERN = r"(?:WOS\s*\:\s*)(\d{15,15})\b"
DOI_URL_PREFIX_PATTERN = (
    r"((?:https?\s*\:\s*/\s*/\s*)?(?:[a-z]+\s*\.\s*)?doi\s*.\s*org\s*/\s*)"
)
ARTICLE_TITLE_PATTERN = r"^(.*?)(\;\s*PMC\d+|\s*,\s*)?$"

DOI_TRUNCATE_AT_TOKENS = {"PubMed", "PMID", "PMCID", "Error", "Epub", "Accessed"}
DOI_TRUNCATE_AT_PATTERN = r"(?i)(%s)" % "|".join(
    [r"(?:\s|\()(" + re.escape(token) + r")\b" for token in DOI_TRUNCATE_AT_TOKENS]
)

# jats.nlm.nih.gov pub-id-type values (fix_jats_xml.py:104-127)
KNOWN_PUB_ID_TYPES = {
    "accession", "archive", "ark", "art-access-id", "arxiv", "coden", "doaj",
    "doi", "handle", "index", "isbn", "manuscript", "medline", "mr", "other",
    "pii", "pmcid", "pmid", "publisher-id", "sici", "std-designation", "zbl",
}


# ---------------------------------------------------------------------------
# ET structural helpers (lxml getparent/getprevious equivalents)


def _parent_map(root: ET.Element) -> Dict[int, Tuple[ET.Element, int]]:
    return {
        id(child): (parent, index)
        for parent in root.iter()
        for index, child in enumerate(parent)
    }


def text_content(node: ET.Element) -> str:
    return "".join(node.itertext())


def with_element_tail(element: ET.Element, tail: Optional[str]) -> ET.Element:
    if tail:
        element.tail = tail
    return element


def get_jats_pub_id_element(
    text: str, pub_id_type: str, tail: Optional[str] = None
) -> ET.Element:
    node = ET.Element("pub-id", {"pub-id-type": pub_id_type})
    node.text = text
    return with_element_tail(node, tail)


def get_jats_doi_element(doi: str, **kwargs) -> ET.Element:
    return get_jats_pub_id_element(doi, "doi", **kwargs)


def get_jats_pii_element(pii: str, **kwargs) -> ET.Element:
    return get_jats_pub_id_element(pii, "pii", **kwargs)


def get_jats_pmid_element(pmid: str, **kwargs) -> ET.Element:
    return get_jats_pub_id_element(pmid, "pmid", **kwargs)


def get_jats_pmcid_element(pmcid: str, **kwargs) -> ET.Element:
    return get_jats_pub_id_element(pmcid, "pmcid", **kwargs)


def get_jats_other_pub_id_element(other: str, **kwargs) -> ET.Element:
    return get_jats_pub_id_element(other, "other", **kwargs)


def get_full_cleaned_url(text: str) -> str:
    url = re.sub(r"\s", "", text)
    if "://" not in url:
        url = "https://" + url
    return url


def get_jats_ext_link_element(
    text: str,
    tail: Optional[str] = None,
    ext_link_type: str = "uri",
    url: Optional[str] = None,
) -> ET.Element:
    if url is None:
        url = get_full_cleaned_url(text)
    node = ET.Element("ext-link", {"ext-link-type": ext_link_type, XLINK_HREF: url})
    node.text = text
    return with_element_tail(node, tail)


def _prev(ref: ET.Element, current: ET.Element) -> Optional[ET.Element]:
    parent, index = _parent_map(ref)[id(current)]
    return parent[index - 1] if index > 0 else None


def get_previous_text(ref: ET.Element, current: ET.Element) -> str:
    previous = _prev(ref, current)
    if previous is not None:
        return previous.tail or ""
    parent, _ = _parent_map(ref)[id(current)]
    return parent.text or ""


def set_previous_text(ref: ET.Element, current: ET.Element, text: str) -> None:
    previous = _prev(ref, current)
    if previous is not None:
        previous.tail = text
    else:
        parent, _ = _parent_map(ref)[id(current)]
        parent.text = text


def add_text_to_previous(ref: ET.Element, current: ET.Element, text: str) -> None:
    previous = _prev(ref, current)
    if previous is not None:
        previous.tail = (previous.tail or "") + text
    else:
        parent, _ = _parent_map(ref)[id(current)]
        parent.text = (parent.text or "") + text


def add_text_to_tail_prefix(current: ET.Element, text: str) -> None:
    current.tail = text + (current.tail or "")


def replace_element_with_text(ref: ET.Element, current: ET.Element, text: str) -> None:
    add_text_to_previous(ref, current, text + (current.tail or ""))
    parent, _ = _parent_map(ref)[id(current)]
    parent.remove(current)


def add_next_sibling_element(
    ref: ET.Element, element: ET.Element, new_element: ET.Element
) -> None:
    parent, index = _parent_map(ref)[id(element)]
    parent.insert(index + 1, new_element)


def add_next_sibling_elements(
    ref: ET.Element, element: ET.Element, new_elements: List[ET.Element]
) -> None:
    for new_element in new_elements:
        add_next_sibling_element(ref, element, new_element)
        element = new_element


# ---------------------------------------------------------------------------
# value finders (fix_jats_xml.py:241-401)


def find_re_pattern_start_end(
    text: str, pattern: str, flags: int = 0, group_index: int = 1
) -> Optional[Tuple[int, int]]:
    m = re.search(pattern, text, flags=flags)
    if not m:
        return None
    return m.start(group_index), m.end(group_index)


def remove_punct(text: str) -> str:
    return "".join(c for c in text if not unicodedata.category(c).startswith("P"))


def remove_punct_or_whitespace(text: str) -> str:
    return "".join(
        c for c in text if not (unicodedata.category(c).startswith("P") or c.isspace())
    )


def strip_pii_from_doi(doi: str) -> str:
    """fix_jats_xml.py:263-286."""
    if not doi.endswith("[pii]"):
        return doi
    doi = doi[0:-5].rstrip()
    parts = doi.rsplit(" ", maxsplit=1)
    if len(parts) != 2:
        return doi
    doi_start, dup_candidate = parts
    if len(dup_candidate) < 3:
        return doi
    if dup_candidate in doi_start:
        return doi_start.rstrip()
    dup_no_punct = remove_punct(dup_candidate)
    if len(dup_no_punct) < 3:
        return doi
    if dup_no_punct in remove_punct(doi_start):
        return doi_start.rstrip()
    return doi


def remove_duplicate_doi(doi: str) -> str:
    """fix_jats_xml.py:289-303."""
    doi_prefix, path = doi.split("/", maxsplit=1)
    other_start_end = find_re_pattern_start_end(path, DOI_PATTERN)
    if not other_start_end:
        return doi
    other_start, _ = other_start_end
    other_doi = path[other_start:]
    doi_start = doi_prefix + "/" + path[:other_start]
    if other_doi in doi_start:
        return doi_start.rstrip()
    if remove_punct_or_whitespace(other_doi) in remove_punct_or_whitespace(doi_start):
        return doi_start.rstrip()
    return doi


def truncate_doi_at_known_tokens(doi: str) -> str:
    m = re.search(DOI_TRUNCATE_AT_PATTERN, doi)
    if not m:
        return doi
    return doi[: m.start(1)].rstrip().rstrip(".")


def find_doi_start_end(text: str) -> Optional[Tuple[int, int]]:
    """fix_jats_xml.py:317-334."""
    start_end = find_re_pattern_start_end(text, DOI_PATTERN)
    if start_end:
        start, end = start_end
        # text[start:end], not text[start:] — the DOI regex stops at end of
        # line ('.' does not cross newlines), so multi-line citation text
        # after the DOI must not be swallowed into it.
        doi = text[start:end].rstrip().rstrip(".").rstrip()
        doi = truncate_doi_at_known_tokens(doi)
        if doi.endswith("[doi]"):
            doi = doi[0:-5].rstrip()
        doi = strip_pii_from_doi(doi)
        doi = remove_duplicate_doi(doi)
        doi = doi.rstrip(";")
        char_counts = Counter(doi)
        if char_counts["]"] > char_counts["["]:
            doi = doi.rstrip("]").rstrip()
        start_end = (start, start + len(doi))
    return start_end


def find_doi_url_prefix_valid_start_end(text: str) -> Optional[Tuple[int, int]]:
    return find_re_pattern_start_end(text, DOI_URL_PREFIX_PATTERN)


def find_pii_valid_start_end(text: str) -> Optional[Tuple[int, int]]:
    return find_re_pattern_start_end(text, PII_VALID_PATTERN)


def find_pii_other_start_end(text: str) -> Optional[Tuple[int, int]]:
    return find_re_pattern_start_end(text, PII_OTHER_PATTERN)


def find_pmid_start_end(text: str) -> Optional[Tuple[int, int]]:
    return find_re_pattern_start_end(text, PMID_PATTERN)


def find_pmid_fix_start_end(text: str) -> Optional[Tuple[int, int]]:
    return find_re_pattern_start_end(text, PMID_FIX_PATTERN)


def find_pmcid_start_end(text: str) -> Optional[Tuple[int, int]]:
    return find_re_pattern_start_end(text, PMCID_PATTERN, flags=re.IGNORECASE)


def find_wos_start_end(text: str) -> Optional[Tuple[int, int]]:
    return find_re_pattern_start_end(text, WOS_PATTERN, flags=re.IGNORECASE)


def find_doi_ext_link_start_end(text: str) -> Tuple[int, int]:
    m = re.match(r"(.*)(\[" + DOI_PATTERN + r"\])", text)
    if not m:
        return 0, len(text)
    return 0, m.start(2)


def find_ext_link_start_end(text: str) -> Tuple[int, int]:
    if "doi.org" in text:
        return find_doi_ext_link_start_end(text)
    return 0, len(text)


def has_surrounding_quotes(text: str, start: int = 0, end: Optional[int] = None) -> bool:
    if end is None:
        end = len(text)
    return (end > start + 2) and (
        (text[start] == '"' and text[end - 1] == '"')
        or (text[start] == LSQUO and text[end - 1] == RSQUO)
        or (text[start] == LDQUO and text[end - 1] == RDQUO)
    )


def find_article_title_start_end(text: str) -> Tuple[int, int]:
    start_end = find_re_pattern_start_end(text, ARTICLE_TITLE_PATTERN)
    if not start_end:
        start_end = (0, len(text))
    start, end = start_end
    if has_surrounding_quotes(text, start, end):
        start += 1
        end -= 1
    return start, end


# ---------------------------------------------------------------------------
# annotation movement (fix_jats_xml.py:404-523)

FindFn = Callable[[str], Optional[Tuple[int, int]]]
CreateFn = Callable[[str], ET.Element]


def change_annotation_to_matching_text(
    ref: ET.Element, element: ET.Element, find_start_end_fn: FindFn
) -> None:
    text = element.text
    if text is None:
        return
    start_end = find_start_end_fn(text)
    if not start_end:
        replace_element_with_text(ref, element, text)
        return
    start, end = start_end
    element.text = text[start:end]
    add_text_to_previous(ref, element, text[:start])
    add_text_to_tail_prefix(element, text[end:])


def change_annotations_to_matching_text(
    ref: ET.Element, elements: List[ET.Element], find_start_end_fn: FindFn
) -> None:
    for element in elements:
        change_annotation_to_matching_text(ref, element, find_start_end_fn)


def add_annotation_to_element_text_if_matching(
    ref: ET.Element,
    element: ET.Element,
    find_start_end_fn: FindFn,
    create_element_fn: CreateFn,
    as_next_sibling: bool = False,
) -> bool:
    text = element.text
    if not text:
        return False
    start_end = find_start_end_fn(text)
    if not start_end:
        return False
    start, end = start_end
    element.text = text[:start]
    new_element = with_element_tail(create_element_fn(text[start:end]), tail=text[end:])
    if as_next_sibling:
        add_next_sibling_element(ref, element, new_element)
    else:
        element.insert(0, new_element)
    return True


def add_annotation_to_element_tail_if_matching(
    ref: ET.Element,
    element: ET.Element,
    find_start_end_fn: FindFn,
    create_element_fn: CreateFn,
) -> bool:
    text = element.tail
    if not text:
        return False
    start_end = find_start_end_fn(text)
    if not start_end:
        return False
    start, end = start_end
    add_next_sibling_element(
        ref, element, with_element_tail(create_element_fn(text[start:end]), tail=text[end:])
    )
    element.tail = text[:start]
    return True


def add_annotation_to_element_if_matching(
    ref: ET.Element,
    element: ET.Element,
    find_start_end_fn: FindFn,
    create_element_fn: CreateFn,
    parse_comment: bool,
) -> bool:
    if add_annotation_to_element_text_if_matching(
        ref, element, find_start_end_fn, create_element_fn
    ):
        return True
    for child in list(element):
        if add_annotation_to_element_tail_if_matching(
            ref, child, find_start_end_fn, create_element_fn
        ):
            return True
    if parse_comment:
        for child in element.findall("comment"):
            if add_annotation_to_element_text_if_matching(
                ref, child, find_start_end_fn, create_element_fn, as_next_sibling=True
            ):
                break
    return False


def add_annotation_to_reference_element_if_matching(
    ref: ET.Element,
    find_start_end_fn: FindFn,
    create_element_fn: CreateFn,
    parse_comment: bool,
) -> bool:
    for mixed_citation in ref.findall(JatsXpaths.MIXED_CITATION):
        if add_annotation_to_element_if_matching(
            ref, mixed_citation, find_start_end_fn, create_element_fn, parse_comment
        ):
            return True
    return False


# ---------------------------------------------------------------------------
# per-field fixes (fix_jats_xml.py:526-735)


def split_url(url: str) -> List[str]:
    pos = 0
    result = []
    for m in re.finditer(r"https?://", url):
        start = m.start()
        if start > pos:
            result.append(url[pos:start])
        pos = start
    if len(url) > pos:
        result.append(url[pos:])
    return result


def fix_ext_link(ref: ET.Element) -> None:
    for child in list(ref.findall(JatsXpaths.EXT_LINK)):
        text = child.text
        if not text:
            continue
        href = child.attrib.get(XLINK_HREF)
        hrefs = split_url(text)
        # very special case where hrefs are joined by 'w' (fix_jats_xml.py:546)
        if not href or (href != text and href != "w".join(hrefs)):
            continue
        if len(hrefs) > 1:
            child.text = hrefs[0]
            child.attrib[XLINK_HREF] = hrefs[0]
        add_next_sibling_elements(
            ref, child, [get_jats_ext_link_element(other) for other in hrefs[1:]]
        )
    change_annotations_to_matching_text(
        ref, ref.findall(JatsXpaths.EXT_LINK), find_ext_link_start_end
    )
    for child in ref.findall(JatsXpaths.EXT_LINK):
        href = child.attrib.get(XLINK_HREF)
        if not href:
            continue
        start, end = find_ext_link_start_end(href)
        child.attrib[XLINK_HREF] = href[start:end]


def remove_surrounding_quotes_from_element(ref: ET.Element, element: ET.Element) -> None:
    text = text_content(element)
    if len(text) < 2:
        return
    children = list(element)
    if has_surrounding_quotes(text):
        if element.text:
            add_text_to_previous(ref, element, element.text[:1])
            element.text = element.text[1:]
        if children and children[-1].tail:
            add_text_to_tail_prefix(element, children[-1].tail[-1:])
            children[-1].tail = children[-1].tail[:-1]
    elif text[0] in LEFT_QUOTE_CHARS:
        right_quote_char = RIGHT_BY_LEFT_QUOTE_CHAR[text[0]]
        if right_quote_char not in text[1:] and element.text:
            add_text_to_previous(ref, element, element.text[:1])
            element.text = element.text[1:]


def remove_trailing_comma_from_element(element: ET.Element) -> None:
    text = text_content(element)
    rstripped_text = text.rstrip(", ")
    if len(rstripped_text) == len(text):
        return
    children = list(element)
    if children and children[-1].tail:
        tail = children[-1].tail
        tail_end = max(0, len(tail) + len(rstripped_text) - len(text))
        add_text_to_tail_prefix(element, tail[tail_end:])
        children[-1].tail = tail[:tail_end]


def fix_article_title(ref: ET.Element) -> None:
    change_annotations_to_matching_text(
        ref, ref.findall(JatsXpaths.ARTICLE_TITLE), find_article_title_start_end
    )
    for element in ref.findall(JatsXpaths.ARTICLE_TITLE):
        remove_surrounding_quotes_from_element(ref, element)
        remove_trailing_comma_from_element(element)


def fix_doi(ref: ET.Element) -> None:
    change_annotations_to_matching_text(
        ref, ref.findall(JatsXpaths.DOI), find_doi_start_end
    )


def replace_doi_annotation_with_ext_link_if_url(ref: ET.Element) -> None:
    for doi_element in ref.findall(JatsXpaths.DOI):
        previous_text = get_previous_text(ref, doi_element)
        start_end = find_doi_url_prefix_valid_start_end(previous_text)
        if not start_end:
            continue
        start, _ = start_end
        matching_prefix = previous_text[start:]
        doi_url = matching_prefix + (doi_element.text or "")
        set_previous_text(ref, doi_element, previous_text[:start])
        parent, index = _parent_map(ref)[id(doi_element)]
        parent.remove(doi_element)
        parent.insert(
            index, get_jats_ext_link_element(doi_url, tail=doi_element.tail)
        )


def fix_pii(ref: ET.Element) -> None:
    change_annotations_to_matching_text(
        ref, ref.findall(JatsXpaths.PII), find_pii_valid_start_end
    )


def fix_pmid(ref: ET.Element) -> None:
    change_annotations_to_matching_text(
        ref, ref.findall(JatsXpaths.PMID), find_pmid_fix_start_end
    )


def fix_pmcid(ref: ET.Element) -> None:
    change_annotations_to_matching_text(
        ref, ref.findall(JatsXpaths.PMCID), find_pmcid_start_end
    )


def add_doi_annotation_if_not_present(ref: ET.Element) -> None:
    if ref.findall(JatsXpaths.DOI):
        return
    add_annotation_to_reference_element_if_matching(
        ref, find_doi_start_end, get_jats_doi_element, parse_comment=False
    )


def add_pii_valid_annotation_if_not_present(ref: ET.Element) -> None:
    if ref.findall(JatsXpaths.PII):
        return
    add_annotation_to_reference_element_if_matching(
        ref, find_pii_valid_start_end, get_jats_pii_element, parse_comment=False
    )


def add_pii_other_pub_id_annotation_if_not_present(ref: ET.Element) -> None:
    if ref.findall(JatsXpaths.PII):
        return
    add_annotation_to_reference_element_if_matching(
        ref, find_pii_other_start_end, get_jats_other_pub_id_element, parse_comment=False
    )


def add_pmid_annotation_if_not_present(ref: ET.Element) -> None:
    if ref.findall(JatsXpaths.PMID):
        return
    add_annotation_to_reference_element_if_matching(
        ref, find_pmid_start_end, get_jats_pmid_element, parse_comment=True
    )


def add_pmcid_annotation_if_not_present(ref: ET.Element) -> None:
    if ref.findall(JatsXpaths.PMCID):
        return
    add_annotation_to_reference_element_if_matching(
        ref, find_pmcid_start_end, get_jats_pmcid_element, parse_comment=True
    )


def add_wos_as_other_pub_id_annotation_if_not_present(ref: ET.Element) -> None:
    add_annotation_to_reference_element_if_matching(
        ref, find_wos_start_end, get_jats_other_pub_id_element, parse_comment=True
    )


def convert_known_pub_id_type_to_lower_case(ref: ET.Element) -> None:
    for pub_id in ref.findall(JatsXpaths.PUB_ID):
        pub_id_type = pub_id.attrib.get("pub-id-type")
        if not pub_id_type:
            continue
        lowered = pub_id_type.lower()
        if lowered in KNOWN_PUB_ID_TYPES:
            pub_id.attrib["pub-id-type"] = lowered


def fix_reference(ref: ET.Element) -> ET.Element:
    """The full repair chain per reference (fix_jats_xml.py:737-752)."""
    convert_known_pub_id_type_to_lower_case(ref)
    fix_article_title(ref)
    fix_doi(ref)
    replace_doi_annotation_with_ext_link_if_url(ref)
    fix_ext_link(ref)
    fix_pii(ref)
    fix_pmid(ref)
    fix_pmcid(ref)
    add_pmid_annotation_if_not_present(ref)
    add_pmcid_annotation_if_not_present(ref)
    add_pii_valid_annotation_if_not_present(ref)
    add_pii_other_pub_id_annotation_if_not_present(ref)
    add_wos_as_other_pub_id_annotation_if_not_present(ref)
    add_doi_annotation_if_not_present(ref)
    return ref


def fix_jats_xml_node(root: ET.Element) -> ET.Element:
    """fix_jats_xml.py:755-758."""
    for ref in root.findall(JatsXpaths.REF):
        fix_reference(ref)
    return root


def prepare_jats_xml_text(xml_text: str) -> str:
    """Pre-parse cleanup matching the reference's ``parse_xml(fix_xml=True)``
    (utils/xml.py:60-69): strip leading whitespace and map the undeclared
    ``&dagger;`` entity to its numeric character reference."""
    return xml_text.lstrip().replace("&dagger;", "&#x2020;")


def fix_jats_xml_string(xml_text: str, fix_entities: bool = True) -> str:
    if fix_entities:
        xml_text = prepare_jats_xml_text(xml_text)
    root = ET.fromstring(xml_text)
    fix_jats_xml_node(root)
    return ET.tostring(root, encoding="unicode")


# ---------------------------------------------------------------------------
# Spark stage


def fix_jats_xml_column(df, xml_col: str = "jats_xml", out_col: str = "fixed_xml"):
    """Arrow-batched repair stage: per-row XML parse -> fix -> serialize.

    Rows are independent (no shuffle); parse errors are isolated onto an
    ``error`` column (same policy as the flagship kernel)."""
    import pandas as pd

    columns = list(df.columns)

    def fix_batches(batches):
        for pdf in batches:
            fixed = []
            errors = []
            for value in pdf[xml_col]:
                try:
                    fixed.append(fix_jats_xml_string(value))
                    errors.append(None)
                except Exception as exc:
                    fixed.append(None)
                    errors.append("%s: %s" % (type(exc).__name__, exc))
            out = pdf.copy()
            out[out_col] = fixed
            out["error"] = errors
            yield out

    schema = ", ".join(
        ["%s %s" % (f.name, f.dataType.simpleString()) for f in df.schema.fields]
        + ["%s string" % out_col, "error string"]
    )
    return df.mapInPandas(fix_batches, schema=schema)


def run_fix_jats_pipeline(
    spark,
    source_base_path: str,
    output_path: str,
    file_list: Optional[List[str]] = None,
    source_filename_pattern: str = "*.xml",
    limit: Optional[int] = None,
) -> dict:
    """Distributed equivalent of the reference's ``fix_jats_xml.main``
    (fix_jats_xml.py:849-1010): read every ``.xml`` under ``source_base_path``
    (or just ``file_list`` relative paths), repair each document, and write
    the fixed XML to ``output_path`` preserving relative sub-directories.

    Spark-first shape: ``binaryFile`` scan -> Arrow-batched repair (no
    shuffle, embarrassingly parallel) -> executor-side file writes (the
    reference's per-file output contract; at cluster scale ``output_path``
    is a shared/distributed filesystem).  Returns ``{"fixed": n, "failed":
    m}`` counters computed from the same single pass (reference S10).
    """
    import os

    from pyspark.sql import functions as F

    base = os.path.abspath(source_base_path)
    df = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", source_filename_pattern)
        .option("recursiveFileLookup", "true")
        .load(base)
        .select(
            F.expr("substring(path, %d)" % (len("file:" + base) + 2)).alias("rel_path"),
            F.decode(F.col("content"), "utf-8").alias("jats_xml"),
        )
    )
    if file_list is not None:
        wanted = spark.createDataFrame([(p,) for p in file_list], "rel_path string")
        df = df.join(F.broadcast(wanted), on="rel_path", how="inner")
    if limit is not None:
        df = df.limit(limit)
    fixed = fix_jats_xml_column(df, xml_col="jats_xml", out_col="fixed_xml")

    out_root = os.path.abspath(output_path)

    def write_batches(batches):
        import pandas as pd

        # absolute import: closure is cloudpickled to executors
        from sciencebeam_trainer_grobid_tools_spark.sources.fs import write_text_file

        for pdf in batches:
            oks = []
            for rel_path, fixed_xml in zip(pdf["rel_path"], pdf["fixed_xml"]):
                if fixed_xml is None:
                    oks.append(False)
                    continue
                write_text_file(os.path.join(out_root, rel_path), fixed_xml)
                oks.append(True)
            yield pd.DataFrame({"ok": oks})

    # writes happen executor-side (out_root is a shared/distributed FS on a
    # cluster); the driver only aggregates the tiny per-file ok flags.
    outcome = (
        fixed.select("rel_path", "fixed_xml")
        .mapInPandas(write_batches, schema="ok boolean")
        .groupBy("ok")
        .count()
        .collect()
    )
    counters = {"fixed": 0, "failed": 0}
    for row in outcome:
        counters["fixed" if row["ok"] else "failed"] = row["count"]
    return counters
